"""TableStore mechanics: file-level COW merge rewrites only matched
files; compaction bin-packs small files; schema evolution."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from serverless_data_lake_spark.catalog import TableStore
from serverless_data_lake_spark.config import LakeConfig


@pytest.fixture()
def store(spark, tmp_path):
    return TableStore(spark, LakeConfig(root=str(tmp_path / "lake")))


def _files(store, db, table):
    info = store.info(db, table)
    return sorted(store._list_data_files(info.location))


class TestMergeCow:
    def test_merge_rewrites_only_matched_files(self, spark, store):
        # Two distinct key ranges written as separate appends → at
        # least two files with disjoint keys.
        df1 = spark.range(0, 100).select(
            F.col("id").alias("k"), F.lit("a").alias("v")
        ).coalesce(1)
        df2 = spark.range(1000, 1100).select(
            F.col("id").alias("k"), F.lit("b").alias("v")
        ).coalesce(1)
        store.create_or_replace("db", "t", df1, ["k"])
        store.append("db", "t", df2)
        before = _files(store, "db", "t")
        assert len(before) >= 2

        # Batch touches ONLY keys in df2's range.
        updates = spark.createDataFrame([(1000, "B")], ["k", "v"])
        store.merge("db", "t", updates, ["k"])
        after = _files(store, "db", "t")

        # df1's file(s) survive untouched (same names); df2's were
        # rewritten (different names).
        untouched = set(before) & set(after)
        assert untouched  # at least the unmatched file persisted
        rows = {r.k: r.v for r in store.read("db", "t").collect()}
        assert rows[1000] == "B" and rows[0] == "a"
        assert len(rows) == 200

    def test_merge_insert_new_keys(self, spark, store):
        store.create_or_replace(
            "db", "t", spark.createDataFrame([(1, "x")], ["k", "v"]), ["k"]
        )
        store.merge(
            "db", "t", spark.createDataFrame([(2, "y")], ["k", "v"]), ["k"]
        )
        assert store.read("db", "t").count() == 2

    def test_schema_evolution_on_merge(self, spark, store):
        store.create_or_replace(
            "db", "t", spark.createDataFrame([(1, "x")], ["k", "v"]), ["k"]
        )
        store.merge(
            "db", "t",
            spark.createDataFrame([(2, "y", 9.5)], ["k", "v", "score"]),
            ["k"],
        )
        rows = {r.k: (r.v, r.score) for r in store.read("db", "t").collect()}
        assert rows[1] == ("x", None)
        assert rows[2] == ("y", 9.5)


class TestCompaction:
    def test_compacts_small_files(self, spark, store):
        store.create_or_replace(
            "db", "t",
            spark.range(0, 10).select(F.col("id").alias("k")).coalesce(1),
            ["k"],
        )
        for i in range(5):
            store.append(
                "db", "t",
                spark.range(100 + i, 101 + i).select(
                    F.col("id").alias("k")
                ).coalesce(1),
            )
        before = _files(store, "db", "t")
        assert len(before) >= 6
        compacted = store.compact("db", "t")
        assert compacted == len(before)
        after = _files(store, "db", "t")
        assert len(after) < len(before)
        assert store.read("db", "t").count() == 15

    def test_compact_noop_on_single_file(self, spark, store):
        store.create_or_replace(
            "db", "t", spark.range(5).select(F.col("id").alias("k")).coalesce(1)
        )
        assert store.compact("db", "t") == 0

    def test_compact_skips_large_files(self, spark, store):
        store.create_or_replace(
            "db", "t", spark.range(5).select(F.col("id").alias("k")).coalesce(1)
        )
        store.append(
            "db", "t", spark.range(5, 10).select(F.col("id").alias("k")).coalesce(1)
        )
        # threshold below any real file size -> nothing is "small"
        assert store.compact("db", "t", small_file_bytes=1) == 0


class TestCommitRecovery:
    """Crash-safety of the journalled commit (r1 advice): a crash at
    any point between staging and the final deletes must be
    recoverable with no lost rows — duplicates at worst, rolled
    forward by the next write."""

    def _setup(self, spark, store):
        df1 = spark.range(0, 10).select(
            F.col("id").alias("k"), F.lit("a").alias("v")
        ).coalesce(1)
        df2 = spark.range(100, 110).select(
            F.col("id").alias("k"), F.lit("b").alias("v")
        ).coalesce(1)
        store.create_or_replace("db", "t", df1, ["k"])
        store.append("db", "t", df2)
        return store.info("db", "t")

    def test_crash_after_marker_before_movein(self, spark, store):
        """Simulate: staging written, marker written, crash. Recovery
        must move staged files in and delete the originals."""
        info = self._setup(spark, store)
        matched = [
            f for f in store._list_data_files(info.location)
        ]
        # Hand-build the crashed state: a staging dir with the rewrite
        # (all keys, updated values) and a marker listing all files.
        staging = f"{info.location}__stage_crash"
        spark.read.parquet(info.location).withColumn(
            "v", F.lit("UPDATED")
        ).write.mode("overwrite").parquet(staging)
        store._write_pending(info.location, staging, matched)

        store._apply_pending(info.location)  # what the next write does
        spark.sql("REFRESH TABLE `db`.`t`")
        rows = store.read("db", "t").collect()
        assert len(rows) == 20
        assert all(r.v == "UPDATED" for r in rows)
        assert not store._exists(staging)
        assert not store._exists(f"{info.location}/_sdls_pending.json")

    def test_crash_after_movein_before_delete(self, spark, store):
        """Simulate: staged files moved in, crash before originals
        were deleted → duplicates visible; recovery deletes them."""
        info = self._setup(spark, store)
        originals = store._list_data_files(info.location)
        staging = f"{info.location}__stage_crash"
        spark.read.parquet(info.location).withColumn(
            "v", F.lit("UPDATED")
        ).write.mode("overwrite").parquet(staging)
        store._write_pending(info.location, staging, originals)
        store._move_files_into(staging, info.location)
        store._delete(staging)
        # Crashed state: duplicates (old + new), marker present.
        spark.sql("REFRESH TABLE `db`.`t`")
        assert store.read("db", "t").count() == 40

        store._apply_pending(info.location)
        spark.sql("REFRESH TABLE `db`.`t`")
        rows = store.read("db", "t").collect()
        assert len(rows) == 20
        assert all(r.v == "UPDATED" for r in rows)

    def test_merge_heals_prior_crash(self, spark, store):
        """A real merge on a table with a pending marker rolls the
        crashed commit forward before computing its own COW set."""
        info = self._setup(spark, store)
        originals = store._list_data_files(info.location)
        staging = f"{info.location}__stage_crash"
        spark.read.parquet(info.location).write.mode("overwrite").parquet(
            staging
        )
        store._write_pending(info.location, staging, originals)

        updates = spark.createDataFrame([(0, "Z")], ["k", "v"])
        store.merge("db", "t", updates, ["k"])
        rows = {r.k: r.v for r in store.read("db", "t").collect()}
        assert len(rows) == 20 and rows[0] == "Z" and rows[100] == "b"

    def test_register_all_skips_stage_dirs(self, spark, store, tmp_path):
        self._setup(spark, store)
        # Leftover staging dir with a meta file must not register.
        info = store.info("db", "t")
        staging = f"{info.location}__stage_leftover"
        spark.range(1).write.parquet(staging)
        from serverless_data_lake_spark.catalog import TableInfo
        store._write_meta(
            TableInfo("db", "t__stage_leftover", staging,
                      spark.range(1).schema, [])
        )
        names = {i.name for i in store.register_all()}
        assert names == {"t"}


class TestZoneMaps:
    """Per-file lead-key min/max stats: maintained by every write,
    consumed by merge to prune non-overlapping files before the
    affected-file scan (data skipping a la Iceberg/Delta)."""

    def _two_range_table(self, spark, store):
        lo = spark.range(0, 100).select(
            F.col("id").alias("k"), F.lit("lo").alias("v")
        ).coalesce(1)
        hi = spark.range(10_000, 10_100).select(
            F.col("id").alias("k"), F.lit("hi").alias("v")
        ).coalesce(1)
        store.create_or_replace("db", "t", lo, ["k"])
        store.append("db", "t", hi)
        return store.info("db", "t")

    def test_stats_written_and_updated(self, spark, store):
        info = self._two_range_table(spark, store)
        stats = store._load_file_stats(info.location)
        files = store._list_data_files(info.location)
        assert len(stats) == len(files) >= 2
        ranges = sorted(tuple(v) for v in stats.values())
        assert ranges[0] == (0, 99) and ranges[-1] == (10_000, 10_099)

    def test_merge_prunes_disjoint_files(self, spark, store):
        info = self._two_range_table(spark, store)
        before = {
            f.rsplit("/", 1)[-1] for f in store._list_data_files(info.location)
        }
        stats_before = store._load_file_stats(info.location)
        # Batch touches only the hi range; the lo file's range [0,99]
        # is disjoint -> pruned before the affected scan.
        lo_file = next(b for b, v in stats_before.items() if v[1] == 99)
        updates = spark.createDataFrame([(10_000, "HI")], ["k", "v"])
        store.merge("db", "t", updates, ["k"])
        after = {
            f.rsplit("/", 1)[-1] for f in store._list_data_files(info.location)
        }
        assert lo_file in after  # untouched, not rewritten
        rows = {r.k: r.v for r in store.read("db", "t").collect()}
        assert rows[10_000] == "HI" and rows[0] == "lo" and len(rows) == 200
        # stats follow the rewrite: deleted file's entry gone, new
        # file's entry present, lo entry intact
        stats_after = store._load_file_stats(info.location)
        assert stats_after[lo_file] == [0, 99]
        assert len(stats_after) == len(after)

    def test_prune_by_stats_logic(self, store):
        stats = {"a": [0, 99], "b": [100, 199], "c": [50, 150]}
        files = ["/x/a", "/x/b", "/x/c", "/x/unknown"]
        # batch [120, 130]: a disjoint; b, c overlap; unknown kept
        kept = store._prune_by_stats(files, stats, 120, 130)
        assert kept == ["/x/b", "/x/c", "/x/unknown"]
        # non-numeric bounds -> no pruning
        assert store._prune_by_stats(files, stats, "x", "y") == files

    def test_merge_against_fully_disjoint_batch_inserts_only(self, spark, store):
        self._two_range_table(spark, store)
        batch = spark.createDataFrame([(500, "new")], ["k", "v"])
        info = store.info("db", "t")
        before = set(store._list_data_files(info.location))
        store.merge("db", "t", batch, ["k"])
        after = set(store._list_data_files(info.location))
        assert before <= after  # nothing rewritten, pure insert
        assert store.read("db", "t").count() == 201

    def test_compact_refreshes_stats(self, spark, store):
        store.create_or_replace(
            "db", "t",
            spark.range(5).select(F.col("id").alias("k")).coalesce(1), ["k"],
        )
        for i in range(4):
            store.append(
                "db", "t",
                spark.range(100 + i, 101 + i).select(
                    F.col("id").alias("k")
                ).coalesce(1),
            )
        info = store.info("db", "t")
        assert store.compact("db", "t") >= 2
        stats = store._load_file_stats(info.location)
        files = store._list_data_files(info.location)
        assert set(stats) == {f.rsplit("/", 1)[-1] for f in files}

    def test_merge_on_new_lead_key_ignores_old_zone_maps(self, spark, store):
        """Zone maps hold ranges of the table's lead key. A merge whose
        keys lead with another column must not prune with them (the
        stored row would survive next to its replacement), and once
        the keys change no range of the old column is kept."""
        def part(lo, hi):
            return spark.range(lo, hi).select(
                F.col("id").alias("a"),
                (F.col("id") + 1000).alias("b"),
                F.lit("old").alias("v"),
            ).coalesce(1)

        store.create_or_replace("db", "t", part(0, 10), ["a"])
        store.append("db", "t", part(100, 110))
        info = store.info("db", "t")
        before = {
            f.rsplit("/", 1)[-1] for f in store._list_data_files(info.location)
        }
        # b=1005 lives in the file whose `a` range [0, 9] is disjoint
        # from the batch's b bounds [1005, 1005].
        batch = spark.createDataFrame([(500, 1005, "new")], ["a", "b", "v"])
        store.merge("db", "t", batch, ["b"])
        t = store.read("db", "t")
        assert [(r.a, r.v) for r in t.where("b = 1005").collect()] == [
            (500, "new")
        ]
        assert t.count() == 20
        after = {
            f.rsplit("/", 1)[-1] for f in store._list_data_files(info.location)
        }
        stats = store._load_file_stats(info.location)
        # Only the merge's own files carry stats, and they are b ranges.
        assert set(stats) == after - before
        assert all(1000 <= lo and hi <= 1009 for lo, hi in stats.values())

    def test_append_commits_through_staging(self, spark, store):
        """append stages its batch and commits it like a merge that
        deletes nothing: no staging dir or marker is left, old files
        stay, and the new file gets its zone map."""
        import os

        info = self._two_range_table(spark, store)
        before = set(store._list_data_files(info.location))
        store.append(
            "db", "t",
            spark.createDataFrame([(50_000, "x")], ["k", "v"]).coalesce(1),
        )
        after = set(store._list_data_files(info.location))
        assert before < after
        parent, name = os.path.split(info.location)
        assert os.listdir(parent) == [name]
        assert not store._exists(f"{info.location}/_sdls_pending.json")
        stats = store._load_file_stats(info.location)
        (new,) = after - before
        assert stats[new.rsplit("/", 1)[-1]] == [50_000, 50_000]
        assert store.read("db", "t").count() == 201


@pytest.fixture()
def tt_store(spark, tmp_path):
    return TableStore(
        spark, LakeConfig(root=str(tmp_path / "ttlake")), retain_history=True
    )


class TestTimeTravel:
    """retain_history: every committed write records a snapshot;
    replaced files go to _archive/; read_version reconstructs any
    snapshot; vacuum prunes."""

    def test_merge_history(self, spark, tt_store):
        tt_store.create_or_replace(
            "db", "t",
            spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"]), ["k"],
        )
        tt_store.merge(
            "db", "t", spark.createDataFrame([(2, "B"), (3, "c")], ["k", "v"]),
            ["k"],
        )
        snaps = tt_store.snapshots("db", "t")
        assert [s["version"] for s in snaps] == [1, 2]
        v1 = {(r.k, r.v) for r in tt_store.read_version("db", "t", 1).collect()}
        v2 = {(r.k, r.v) for r in tt_store.read_version("db", "t", 2).collect()}
        assert v1 == {(1, "a"), (2, "b")}
        assert v2 == {(1, "a"), (2, "B"), (3, "c")}
        # current read matches latest snapshot
        cur = {(r.k, r.v) for r in tt_store.read("db", "t").collect()}
        assert cur == v2

    def test_overwrite_preserves_history(self, spark, tt_store):
        tt_store.create_or_replace(
            "db", "t", spark.createDataFrame([(1, "a")], ["k", "v"]), ["k"]
        )
        tt_store.create_or_replace(
            "db", "t", spark.createDataFrame([(9, "z")], ["k", "v"]), ["k"]
        )
        v1 = {(r.k, r.v) for r in tt_store.read_version("db", "t", 1).collect()}
        v2 = {(r.k, r.v) for r in tt_store.read_version("db", "t", 2).collect()}
        assert v1 == {(1, "a")} and v2 == {(9, "z")}

    def test_schema_evolution_snapshot_schemas(self, spark, tt_store):
        tt_store.create_or_replace(
            "db", "t", spark.createDataFrame([(1, "a")], ["k", "v"]), ["k"]
        )
        tt_store.append(
            "db", "t", spark.createDataFrame([(2, "b", 7.5)], ["k", "v", "w"])
        )
        v1 = tt_store.read_version("db", "t", 1)
        v2 = tt_store.read_version("db", "t", 2)
        assert v1.columns == ["k", "v"]
        assert v2.columns == ["k", "v", "w"]
        rows = {r.k: r.w for r in v2.collect()}
        assert rows[1] is None and rows[2] == 7.5

    def test_vacuum_prunes_old_versions(self, spark, tt_store):
        tt_store.create_or_replace(
            "db", "t", spark.createDataFrame([(1, "a")], ["k", "v"]), ["k"]
        )
        tt_store.merge(
            "db", "t", spark.createDataFrame([(1, "A")], ["k", "v"]), ["k"]
        )
        tt_store.merge(
            "db", "t", spark.createDataFrame([(1, "AA")], ["k", "v"]), ["k"]
        )
        assert len(tt_store.snapshots("db", "t")) == 3
        removed = tt_store.vacuum("db", "t", keep_last=1)
        assert removed >= 1
        assert [s["version"] for s in tt_store.snapshots("db", "t")] == [3]
        with pytest.raises(KeyError):
            tt_store.read_version("db", "t", 1)
        # latest still reads fine
        assert tt_store.read_version("db", "t", 3).collect()[0].v == "AA"

    def test_no_history_mode_records_nothing(self, spark, store):
        store.create_or_replace(
            "db", "t", spark.createDataFrame([(1, "a")], ["k", "v"]), ["k"]
        )
        assert store.snapshots("db", "t") == []

    def test_snapshots_live_in_table_meta(self, spark, tt_store, store):
        """Snapshots are written with the table meta, in the same write
        as the commit; a table without history carries no snapshot
        key and no separate manifest exists either way."""
        import os

        for s in (tt_store, store):
            s.create_or_replace(
                "db", "t", spark.createDataFrame([(1, "a")], ["k", "v"]), ["k"]
            )
            s.append("db", "t", spark.createDataFrame([(2, "b")], ["k", "v"]))
            s.merge("db", "t", spark.createDataFrame([(1, "A")], ["k", "v"]), ["k"])
        for s in (tt_store, store):
            loc = s.info("db", "t").location
            assert sorted(
                n for n in os.listdir(loc) if n.startswith("_sdls")
            ) == ["_sdls_meta.json"]
        meta = tt_store._read_meta(tt_store.info("db", "t").location)
        assert [v["version"] for v in meta["snapshots"]] == [1, 2, 3]
        assert "snapshots" not in store._read_meta(store.info("db", "t").location)


class TestCompactSortBy:
    def test_sorted_compaction_tightens_zone_maps(self, spark, store):
        from pyspark.sql import functions as F

        # Interleaved appends: every file spans nearly the full key
        # range, so zone maps prune nothing.
        for i in range(4):
            df = spark.range(1000).select(
                (F.col("id") * 4 + i).alias("k"),
                F.lit(f"b{i}").alias("v"),
            ).coalesce(1)
            store.append("db", "t", df, ["k"])
        n = store.compact(
            "db", "t", target_file_bytes=16 * 1024, sort_by=["k"]
        )
        assert n == 4
        info = store.info("db", "t")
        stats = store._load_file_stats(info.location)  # noqa: SLF001
        files = store._list_data_files(info.location)  # noqa: SLF001
        assert len(files) >= 2
        # Post-sort, file key ranges are disjoint (tight clustering).
        ranges = sorted(stats.values())
        for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
            assert hi1 < lo2
        # Rows intact.
        assert store.read("db", "t").count() == 4000
