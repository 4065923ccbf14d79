"""Manifest-versioned tables: the contracts that make it a table format.

- merge parity: a versioned MERGE produces exactly the rows a full MERGE
  INTO would;
- time travel: every retained version reads back byte-identical after later
  commits;
- file reuse: the post-merge manifest references the SAME file paths for
  untouched buckets (no rewrite, no copy — stronger than mtime checks);
- atomic commit: a half-written commit (data files, no manifest) is
  invisible to readers;
- vacuum: drops unreferenced data dirs, keeps every file a retained
  version references.
"""

from __future__ import annotations

import os

import pytest

from monday_etl_spark.tableformat import (
    current_version,
    list_versions,
    merge_versioned,
    read_version,
    vacuum,
    write_versioned,
)

N_BUCKETS = 8


def _base_df(spark):
    return spark.createDataFrame(
        [(i, f"name_{i}", float(i)) for i in range(200)],
        "id bigint, name string, v double",
    )


def _updates(spark):
    return spark.createDataFrame(
        [(7, "name_7_v2", 700.0), (42, "name_42_v2", 4200.0),
         (1000, "name_1000", 1000.0)],
        "id bigint, name string, v double",
    )


def test_merge_parity_and_time_travel(spark, tmp_path):
    path = str(tmp_path / "tbl")
    v1 = write_versioned(_base_df(spark), path, key="id", n_buckets=N_BUCKETS)
    v2 = merge_versioned(spark, path, _updates(spark))
    assert (v1, v2) == (1, 2)

    latest = {r.id: (r.name, r.v) for r in read_version(spark, path).collect()}
    assert len(latest) == 201
    assert latest[7] == ("name_7_v2", 700.0)
    assert latest[1000] == ("name_1000", 1000.0)
    assert latest[3] == ("name_3", 3.0)

    # v1 still reads as it was before the merge
    old = {r.id: (r.name, r.v) for r in read_version(spark, path, 1).collect()}
    assert len(old) == 200
    assert old[7] == ("name_7", 7.0)
    assert 1000 not in old


def test_merge_reuses_untouched_files_by_reference(spark, tmp_path):
    import json

    path = str(tmp_path / "tbl")
    write_versioned(_base_df(spark), path, key="id", n_buckets=N_BUCKETS)
    merge_versioned(spark, path, _updates(spark))

    with open(os.path.join(path, "_manifests", "v00001.json")) as fh:
        m1 = json.load(fh)["buckets"]
    with open(os.path.join(path, "_manifests", "v00002.json")) as fh:
        m2 = json.load(fh)["buckets"]

    changed = [b for b in m1 if m2.get(b) != m1[b]]
    same = [b for b in m1 if m2.get(b) == m1[b]]
    # 3 update keys → at most 3 touched buckets; everything else must be
    # carried forward as the identical file list (reuse, not rewrite)
    assert 1 <= len(changed) <= 3
    assert same, "test needs untouched buckets"
    for b in same:
        assert m2[b] == m1[b]
        for f in m2[b]:
            assert "c00001-" in f, "untouched file not from the v1 commit"


def test_half_commit_is_invisible(spark, tmp_path):
    path = str(tmp_path / "tbl")
    write_versioned(_base_df(spark), path, key="id", n_buckets=N_BUCKETS)

    # simulate a crash between data write and manifest commit: a data dir
    # for an attempted v2 exists, manifest v00002.json does not
    orphan = os.path.join(path, "_data", "c00002-deadbeef", "__bucket=0")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-junk.parquet"), "wb") as fh:
        fh.write(b"not a real parquet file")

    assert current_version(path) == 1
    assert read_version(spark, path).count() == 200  # junk never read

    # a FRESH unreferenced dir is indistinguishable from an in-flight
    # commit: default retention must leave it alone
    vacuum(path, keep_last=5)
    assert os.path.exists(os.path.join(path, "_data", "c00002-deadbeef"))
    # past the retention window (here: declared zero) it is collectable
    vacuum(path, keep_last=5, orphan_retention_s=0)
    assert not os.path.exists(os.path.join(path, "_data", "c00002-deadbeef"))


def test_vacuum_keeps_referenced_drops_rest(spark, tmp_path):
    path = str(tmp_path / "tbl")
    write_versioned(_base_df(spark), path, key="id", n_buckets=N_BUCKETS)
    merge_versioned(spark, path, _updates(spark))
    assert list_versions(path) == [1, 2]

    dropped = vacuum(path, keep_last=1)
    assert dropped == [1]
    assert list_versions(path) == [2]
    # v2 references most of the v1 commit's files (untouched buckets): that
    # dir must survive vacuum, and the table must still read completely
    import glob as _gg
    assert _gg.glob(os.path.join(path, "_data", "c00001-*"))
    assert read_version(spark, path).count() == 201


def test_compact_packs_fragmented_buckets(spark, tmp_path):
    """A parallel write leaves up-to-one-file-per-(input partition, bucket)
    fragmentation; compaction must pack each bucket to <= the target file
    count as a NEW version — row-identical, time-travelable, idempotent."""
    import json

    path = str(tmp_path / "tbl")
    # distribution="none" keeps the raw per-(input partition, bucket) write
    # layout — the fragmented table this test needs (the default "hash"
    # distribution writes one file per bucket and leaves nothing to compact)
    write_versioned(_base_df(spark), path, key="id", n_buckets=N_BUCKETS,
                    distribution="none")

    from monday_etl_spark.tableformat import compact_versioned

    with open(os.path.join(path, "_manifests", "v00001.json")) as fh:
        m1 = json.load(fh)["buckets"]
    assert any(len(fs) > 1 for fs in m1.values()), \
        "test needs write-parallelism fragmentation"
    before = {r.id: (r.name, r.v) for r in read_version(spark, path).collect()}

    v2 = compact_versioned(spark, path, max_files_per_bucket=1)
    assert v2 == 2
    with open(os.path.join(path, "_manifests", "v00002.json")) as fh:
        m2 = json.load(fh)["buckets"]
    assert all(len(fs) <= 1 for fs in m2.values())

    # row-for-row identical table; the fragmented version still time-travels
    after = {r.id: (r.name, r.v) for r in read_version(spark, path).collect()}
    assert after == before
    assert read_version(spark, path, 1).count() == 200

    # idempotent: nothing left to compact
    assert compact_versioned(spark, path, max_files_per_bucket=1) == 2


def test_hash_distribution_one_file_per_bucket(spark, tmp_path):
    """Default ("hash") write distribution: one file per touched bucket per
    commit regardless of input parallelism — a write and a merge from a
    many-partition input leave nothing for compaction to do, and rows are
    identical to the distribution='none' layout."""
    import json

    from monday_etl_spark.tableformat import compact_versioned

    path = str(tmp_path / "tbl")
    wide = _base_df(spark).repartition(16)  # 16 write tasks
    write_versioned(wide, path, key="id", n_buckets=N_BUCKETS)
    merge_versioned(spark, path, _updates(spark).repartition(4))

    for v in (1, 2):
        with open(os.path.join(path, "_manifests", f"v{v:05d}.json")) as fh:
            m = json.load(fh)["buckets"]
        assert all(len(fs) <= 1 for fs in m.values()), (v, m)

    # already compact: no new version committed
    assert compact_versioned(spark, path, max_files_per_bucket=1) == 2

    # same rows as the unshuffled layout
    path2 = str(tmp_path / "tbl_none")
    write_versioned(wide, path2, key="id", n_buckets=N_BUCKETS,
                    distribution="none")
    merge_versioned(spark, path2, _updates(spark).repartition(4),
                    distribution="none")
    a = {tuple(r) for r in read_version(spark, path).collect()}
    b = {tuple(r) for r in read_version(spark, path2).collect()}
    assert a == b


def test_empty_version_readable_and_mergeable(spark, tmp_path):
    # an empty first commit (e.g. an empty first micro-batch in rollup
    # maintenance) must stay readable via the manifest-carried schema and
    # accept a subsequent MERGE
    path = str(tmp_path / "empty_first")
    empty = _base_df(spark).limit(0)
    v1 = write_versioned(empty, path, key="id", n_buckets=N_BUCKETS)
    assert v1 == 1
    got = read_version(spark, path)
    assert got.count() == 0
    assert got.schema == empty.schema

    v2 = merge_versioned(spark, path, _updates(spark))
    assert v2 == 2
    assert sorted(map(tuple, read_version(spark, path).collect())) == sorted(
        map(tuple, _updates(spark).collect())
    )
    # the empty v1 remains time-travellable
    assert read_version(spark, path, 1).count() == 0


def test_delete_versioned_removes_keys_and_time_travels(spark, tmp_path):
    from monday_etl_spark.tableformat import delete_versioned

    path = str(tmp_path / "del_table")
    write_versioned(_base_df(spark), path, key="id", n_buckets=N_BUCKETS)
    doomed = spark.createDataFrame([(i,) for i in range(0, 200, 3)], "id bigint")
    v2 = delete_versioned(spark, path, doomed)
    assert v2 == 2
    got = read_version(spark, path)
    assert got.filter("id % 3 = 0").count() == 0
    assert got.count() == 200 - len(range(0, 200, 3))
    # pre-delete state still readable
    assert read_version(spark, path, 1).count() == 200
    # deleting absent keys is key-level no-op (content unchanged)
    delete_versioned(spark, path, spark.createDataFrame([(9999,)], "id bigint"))
    assert read_version(spark, path).count() == got.count()


def test_diff_versions_classifies_and_prunes(spark, tmp_path):
    from monday_etl_spark.tableformat import delete_versioned, diff_versions

    path = str(tmp_path / "cdc_table")
    write_versioned(_base_df(spark), path, key="id", n_buckets=N_BUCKETS)
    merge_versioned(spark, path, _updates(spark))          # v2: 2 updates + 1 insert
    delete_versioned(
        spark, path, spark.createDataFrame([(13,), (99,)], "id bigint")
    )                                                      # v3: 2 deletes
    diff = diff_versions(spark, path, 1, 3)
    rows = {r.id: r for r in diff.collect()}
    assert rows[7].change_type == "update" and rows[7].new_name == "name_7_v2"
    assert rows[42].change_type == "update" and rows[42].old_v == 42.0
    assert rows[1000].change_type == "insert" and rows[1000].old_name is None
    assert rows[13].change_type == "delete" and rows[13].new_name is None
    assert rows[99].change_type == "delete"
    assert len(rows) == 5

    # manifest pruning: v1 -> v1 diff reads nothing and yields nothing
    assert diff_versions(spark, path, 1, 1).count() == 0


def test_optimize_zorder_row_identical_and_tightens_stats(spark, tmp_path):
    import glob as _g

    import pyarrow.parquet as pq

    from monday_etl_spark.tableformat import optimize_zorder

    def avg_span(files, col):
        spans, gmin, gmax = [], None, None
        for f in files:
            pf = pq.ParquetFile(f)
            idx = pf.schema_arrow.get_field_index(col)
            for rg in range(pf.metadata.num_row_groups):
                st = pf.metadata.row_group(rg).column(idx).statistics
                spans.append(st.max - st.min)
                gmin = st.min if gmin is None else min(gmin, st.min)
                gmax = st.max if gmax is None else max(gmax, st.max)
        return (sum(spans) / len(spans)) / max(gmax - gmin, 1)

    # rows where the natural write order (by a) leaves b spanning everything
    n = 20000
    df = spark.range(n).selectExpr(
        "id", "id % 997 AS a", "CAST(id * 7919 % 10007 AS BIGINT) AS b"
    )
    path = str(tmp_path / "ztable")
    write_versioned(df.orderBy("a"), path, key="id", n_buckets=4)

    v2 = optimize_zorder(spark, path, cols=["a", "b"])
    assert v2 == 2
    # row-identical, and v1 still time-travels
    assert sorted(map(tuple, read_version(spark, path, 2).collect())) == \
        sorted(map(tuple, df.collect()))
    assert read_version(spark, path, 1).count() == n

    files_v1 = _g.glob(str(tmp_path / "ztable/_data/c00001-*/*/*.parquet"))
    files_v2 = _g.glob(str(tmp_path / "ztable/_data/c00002-*/*/*.parquet"))
    # b-spans were ~full-range before; z-ordering tightens them materially
    assert avg_span(files_v2, "b") < 0.7 * avg_span(files_v1, "b")


def test_history_as_of_and_retention_window(spark, tmp_path):
    """Commit stamps power DESCRIBE HISTORY, TIMESTAMP AS OF reads, and
    vacuum's retention window — all metadata-only."""
    import time

    from monday_etl_spark.tableformat import (
        compact_versioned,
        read_as_of,
        rename_column,
        table_history,
        vacuum,
        version_as_of,
    )

    path = str(tmp_path / "tbl")
    # distribution="none" leaves fragmented buckets so the compact below
    # commits a real 4th version (hash-distributed commits need no compact)
    write_versioned(_base_df(spark), path, key="id", n_buckets=N_BUCKETS,
                    distribution="none")
    t_after_v1 = time.time()
    merge_versioned(spark, path, _updates(spark), distribution="none")
    rename_column(path, "v", "val")
    compact_versioned(spark, path)

    hist = table_history(path)
    assert [h["operation"] for h in hist] == \
        ["write", "merge", "rename", "compact"]
    stamps = [h["committed_at"] for h in hist]
    assert all(stamps) and stamps == sorted(stamps)
    # each version's stamp resolves back to that version
    for h in hist:
        assert version_as_of(path, h["committed_at"]) == h["version"]
    # a timestamp between v1 and v2 reads v1 (pre-merge, pre-rename names)
    asof = read_as_of(spark, path, t_after_v1)
    assert asof.columns == ["id", "name", "v"]
    assert asof.count() == 200

    # retention window: keep_last=1 would drop v1-v3, but retain_after
    # covering every commit keeps them all reachable
    assert vacuum(path, keep_last=1, retain_after=stamps[0]) == []
    assert version_as_of(path, t_after_v1) == 1
    # window starting after v2's commit: v1 goes, v2+ stay
    dropped = vacuum(path, keep_last=1, retain_after=stamps[1])
    assert dropped == [1]
    assert read_version(spark, path).count() == 201


def test_commit_stamp_is_fixed_width(spark, tmp_path, monkeypatch):
    """Manifests stamp integer milliseconds: two commits of the same
    content write manifests of equal length whatever the clock reads, and
    TIMESTAMP AS OF resolves as it did, legacy float-second stamps too."""
    import json
    import time

    from monday_etl_spark import tableformat as tf

    src = str(tmp_path / "src")
    write_versioned(_base_df(spark), src, key="id", n_buckets=N_BUCKETS)
    base = {k: v for k, v in tf._read_manifest(src, 1).items()
            if k != "committed_at"}
    sizes = []
    for i, now in enumerate((1700000000.5, 1700000000.123456)):
        dst = str(tmp_path / f"c{i}")
        with monkeypatch.context() as m:
            m.setattr(time, "time", lambda now=now: now)
            tf._commit(dst, dict(base))
        sizes.append(os.path.getsize(tf._manifest_path(dst, 1)))
        assert tf.version_as_of(dst, now) == 1
        assert tf.table_history(dst)[0]["committed_at"] == \
            int(now * 1000) / 1000
    assert sizes[0] == sizes[1]
    assert tf.version_as_of(str(tmp_path / "c1"), 1700000000.123) == 1

    # a manifest from before the integer stamp: float unix seconds
    legacy = str(tmp_path / "legacy")
    os.makedirs(os.path.join(legacy, "_manifests"))
    with open(tf._manifest_path(legacy, 1), "w") as fh:
        json.dump(dict(base, committed_at=1700000000.25), fh)
    assert tf._committed_ms(tf._read_manifest(legacy, 1)) == 1700000000250
    assert tf.version_as_of(legacy, 1700000000.25) == 1
    with pytest.raises(FileNotFoundError):
        tf.version_as_of(legacy, 1700000000.2)


def test_rebucket_changes_layout_and_merges_route_correctly(spark, tmp_path):
    """Bucket-count evolution: the rewrite is row-identical, the new spec
    governs later merges (routing + touched-bucket pruning), time travel
    keeps the old layout, and stats re-collect under the new files."""
    from monday_etl_spark.tableformat import (
        _read_manifest,
        files_for_range,
        read_where,
        rebucket_versioned,
        table_history,
    )

    path = str(tmp_path / "tbl")
    write_versioned(_base_df(spark), path, key="id", n_buckets=2,
                    stats_cols=["v"])
    assert rebucket_versioned(spark, path, 8) == 2
    man = _read_manifest(path, 2)
    assert man["spec"]["n_buckets"] == 8
    assert len(man["buckets"]) > 2
    # row-identical rewrite; v1 still answers under the old layout
    want = sorted(map(tuple, _base_df(spark).collect()))
    assert sorted(map(tuple, read_version(spark, path, 2).collect())) == want
    assert len(_read_manifest(path, 1)["buckets"]) <= 2

    # a merge AFTER the rebucket routes by the new spec and lands
    merge_versioned(spark, path, _updates(spark))
    rows = {r.id: (r.name, r.v) for r in read_version(spark, path).collect()}
    assert rows[7] == ("name_7_v2", 700.0)
    assert rows[1000] == ("name_1000", 1000.0)
    assert len(rows) == 201

    # stats survived the layout change: skipping still prunes and is exact
    _, pruned = files_for_range(path, "v", 0.0, 10.0)
    assert pruned > 0
    got = sorted(
        (r.id, r.v) for r in read_where(spark, path, "v", 0.0, 10.0).collect()
    )
    assert got == [(i, float(i)) for i in range(11) if i != 7]  # 7 -> 700.0
    assert [h["operation"] for h in table_history(path)] == \
        ["write", "rebucket", "merge"]
    # no-op when the count already matches
    assert rebucket_versioned(spark, path, 8) == 3


def test_read_key_point_lookup_prunes_to_one_bucket(spark, tmp_path):
    from monday_etl_spark.tableformat import (
        _read_manifest,
        read_key,
        rename_column,
    )

    path = str(tmp_path / "tbl")
    write_versioned(_base_df(spark), path, key="id", n_buckets=N_BUCKETS)
    merge_versioned(spark, path, _updates(spark))

    got = read_key(spark, path, 42)
    assert [(r.id, r.name, r.v) for r in got.collect()] == \
        [(42, "name_42_v2", 4200.0)]
    # the lookup's scan is one bucket's files, not the table's
    man = _read_manifest(path, 2)
    n_all = sum(len(fs) for fs in man["buckets"].values())
    n_scanned = max(len(fs) for fs in man["buckets"].values())
    assert n_scanned < n_all
    assert got.count() == 1

    # absent key: empty, typed
    assert read_key(spark, path, 999_999).count() == 0
    # time travel: pre-merge value
    assert [r.v for r in read_key(spark, path, 42, version=1).collect()] == \
        [42.0]
    # lookup keeps working after a key-column rename (hash is over values)
    rename_column(path, "id", "entity_id")
    assert [(r.entity_id, r.v) for r in read_key(spark, path, 42).collect()] \
        == [(42, 4200.0)]

    import pytest

    with pytest.raises(ValueError, match="needs 1 value"):
        read_key(spark, path, (1, 2))


def test_read_key_composite(spark, tmp_path):
    from monday_etl_spark.tableformat import read_key

    path = str(tmp_path / "ctbl")
    df = spark.createDataFrame(
        [(i % 10, i, float(i)) for i in range(300)],
        "grp int, seq bigint, v double",
    )
    write_versioned(df, path, key=["grp", "seq"], n_buckets=4)
    assert [(r.grp, r.seq, r.v) for r in
            read_key(spark, path, (7, 137)).collect()] == [(7, 137, 137.0)]


def test_latest_hint_resolution_and_degradation(spark, tmp_path):
    """current_version resolves O(1) via the _latest hint + forward probe,
    and every degraded hint state (stale, regressed, corrupt, missing,
    pointing at a vacuumed version) still resolves correctly."""
    from monday_etl_spark.tableformat import (
        _hint_path,
        current_version,
        delete_versioned,
    )

    path = str(tmp_path / "tbl")
    write_versioned(_base_df(spark), path, key="id", n_buckets=N_BUCKETS)
    merge_versioned(spark, path, _updates(spark))
    delete_versioned(
        spark, path, spark.createDataFrame([(3,)], "id bigint"))
    hint = _hint_path(path)
    with open(hint) as fh:
        assert fh.read().strip() == "3"
    assert current_version(path) == 3

    # stale / regressed hint: probe-forward recovers
    with open(hint, "w") as fh:
        fh.write("1")
    assert current_version(path) == 3
    # corrupt hint: listing fallback
    with open(hint, "w") as fh:
        fh.write("garbage")
    assert current_version(path) == 3
    # missing hint: listing fallback
    os.remove(hint)
    assert current_version(path) == 3
    # a further commit restores the hint
    merge_versioned(
        spark, path,
        spark.createDataFrame([(2000, "late", 1.0)],
                              "id bigint, name string, v double"))
    with open(hint) as fh:
        assert fh.read().strip() == "4"

    # hint pointing at a vacuumed-away version: listing fallback
    vacuum(path, keep_last=1)
    with open(hint, "w") as fh:
        fh.write("1")
    assert current_version(path) == 4


def test_vacuum_hole_punching_cannot_underresolve(spark, tmp_path):
    """A tag-pinned OLD version retained while newer intermediates drop
    punches a hole in the version sequence; a stale hint equal to the
    pinned version must not make current_version return it (the r06-judged
    lost-update scenario: the next writer would commit into the hole)."""
    from monday_etl_spark.tableformat import (
        _hint_path,
        _holes_marker_path,
        create_tag,
        delete_tag,
    )

    path = str(tmp_path / "tbl")
    write_versioned(_base_df(spark), path, key="id", n_buckets=N_BUCKETS)
    for i in range(3):
        merge_versioned(
            spark, path,
            spark.createDataFrame([(5000 + i, "x", 1.0)],
                                  "id bigint, name string, v double"))
    assert list_versions(path) == [1, 2, 3, 4]
    create_tag(path, "pinned", version=2)

    dropped = vacuum(path, keep_last=1, orphan_retention_s=0)
    assert dropped == [1, 3]  # v2 pinned, v4 newest -> holes at 3
    assert os.path.exists(_holes_marker_path(path))
    # vacuum rewrote the hint to the true max
    with open(_hint_path(path)) as fh:
        assert fh.read().strip() == "4"

    # the dangerous state: hint regressed to the pinned version
    with open(_hint_path(path), "w") as fh:
        fh.write("2")
    assert current_version(path) == 4  # listing fallback, not the probe

    # pinned snapshot still reads; a new commit lands at 5, not in the hole
    assert read_version(spark, path, 2).count() == 201
    merge_versioned(
        spark, path,
        spark.createDataFrame([(6000, "y", 1.0)],
                              "id bigint, name string, v double"))
    assert current_version(path) == 5

    # dropping the pin and re-vacuuming restores density: marker self-heals
    delete_tag(path, "pinned")
    vacuum(path, keep_last=2, orphan_retention_s=0)
    assert list_versions(path) == [4, 5]
    assert not os.path.exists(_holes_marker_path(path))
    assert current_version(path) == 5


def test_empty_bucket_read_uses_manifest_schema_after_rename(spark, tmp_path):
    """An empty-selected-bucket read must surface the LOGICAL schema (post
    rename/drop), not arbitrary physical footers: filtering the renamed
    column on an emptied bucket returns an empty typed frame instead of
    raising AnalysisException (the r06-judged empty-path regression)."""
    from pyspark.sql import functions as F

    from monday_etl_spark.tableformat import (
        _bucket_expr,
        _read_manifest,
        delete_versioned,
        read_key,
        rename_column,
    )

    path = str(tmp_path / "tbl")
    write_versioned(_base_df(spark), path, key="id", n_buckets=N_BUCKETS)
    rename_column(path, "v", "value")

    # empty one bucket entirely via DELETE of every key hashing into it
    target = 3
    doomed = (
        _base_df(spark)
        .withColumn("b", _bucket_expr("id", N_BUCKETS))
        .where(F.col("b") == target)
        .select("id")
    )
    n_doomed = doomed.count()
    assert n_doomed > 0
    delete_versioned(spark, path, doomed)
    man = _read_manifest(path, current_version(path))
    assert man["buckets"].get(str(target), []) == []

    empty = read_version(spark, path, buckets=[target])
    assert empty.columns == ["id", "name", "value"]
    assert empty.where(F.col("value") > 0).count() == 0

    # read_key routed to the emptied bucket: empty typed result, no raise
    some_doomed = doomed.limit(1).collect()[0][0]
    hit = read_key(spark, path, some_doomed)
    assert hit.columns == ["id", "name", "value"]
    assert hit.count() == 0


def test_vacuum_orphan_retention_window(spark, tmp_path):
    """Age-guarded orphan collection: a young unreferenced commit dir (an
    in-flight commit's data) survives vacuum; once its mtime falls outside
    the retention window it is collected; dirs referenced only by DROPPED
    manifests are collected immediately at any age."""
    import glob as _gg

    path = str(tmp_path / "tbl")
    write_versioned(_base_df(spark), path, key="id", n_buckets=N_BUCKETS)
    merge_versioned(spark, path, _updates(spark))

    # an in-flight commit: data written, manifest not yet published
    inflight = os.path.join(path, "_data", "c00003-aaaaaaaa", "__bucket=0")
    os.makedirs(inflight)
    with open(os.path.join(inflight, "part-x.parquet"), "wb") as fh:
        fh.write(b"pending")

    vacuum(path, keep_last=5)  # default window: in-flight dir survives
    assert _gg.glob(os.path.join(path, "_data", "c00003-*"))

    # age the dir past a 1-second window
    old = 1_000_000_000
    root = os.path.join(path, "_data", "c00003-aaaaaaaa")
    os.utime(root, (old, old))
    vacuum(path, keep_last=5, orphan_retention_s=1)
    assert not _gg.glob(os.path.join(path, "_data", "c00003-*"))

    # dropped-manifest files: collected immediately despite fresh mtime,
    # but only those no retained version still references
    before = set(_gg.glob(os.path.join(path, "_data", "c*")))
    assert vacuum(path, keep_last=1) == [1]
    after = set(_gg.glob(os.path.join(path, "_data", "c*")))
    # v2 (merge) references most v1 files -> c00001 survives; nothing young
    # and unreferenced was touched
    assert before == after
    assert read_version(spark, path).count() == 201
