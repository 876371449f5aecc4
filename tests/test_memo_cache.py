"""Staleness contract of the entry-file artifact memos (r12,
r11-verdict what's-wrong #3 + advisory): `_memo_local_relation`
keys carry a file-stat fingerprint of the data directory, so

- an UNCHANGED directory serves the cached rows (no rebuild),
- regenerating data under the SAME path (size or mtime change)
  invalidates and rebuilds,
- `clear_ann_cache()` force-drops everything.
"""

from __future__ import annotations

import os

import __spark_entry__ as entry


def _write_table(spark, d: str, val: int) -> None:
    spark.createDataFrame(
        [(1, val)], "id long, v long"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(d, "t.parquet")
    )


def test_memo_fingerprint_invalidation(spark, tmp_path):
    d = str(tmp_path)
    _write_table(spark, d, 10)
    calls = []

    def build():
        calls.append(1)
        return spark.read.parquet(os.path.join(d, "t.parquet"))

    got1 = entry._memo_local_relation(spark, d, "contract_probe", build)
    assert [r["v"] for r in got1.collect()] == [10]
    # unchanged dir: cached rows, no rebuild
    got2 = entry._memo_local_relation(spark, d, "contract_probe", build)
    assert [r["v"] for r in got2.collect()] == [10]
    assert len(calls) == 1

    # regenerate under the SAME path -> fingerprint changes -> rebuild
    _write_table(spark, d, 20)
    got3 = entry._memo_local_relation(spark, d, "contract_probe", build)
    assert [r["v"] for r in got3.collect()] == [20]
    assert len(calls) == 2

    # force mtime-only change (same bytes): still invalidates
    part = next(
        os.path.join(d, "t.parquet", f)
        for f in os.listdir(os.path.join(d, "t.parquet"))
        if f.endswith(".parquet")
    )
    os.utime(part, ns=(1, 1))
    entry._memo_local_relation(spark, d, "contract_probe", build)
    assert len(calls) == 3

    # explicit override drops the memo even with no file change
    entry.clear_ann_cache()
    entry._memo_local_relation(spark, d, "contract_probe", build)
    assert len(calls) == 4


def test_memo_local_relation_capped_overcap_probe_memoized(spark, tmp_path):
    """The capped variant must refuse over-cap gram sets with None AND
    memoize the refusal per data fingerprint (the sizing probe runs
    once, not per construction) — then re-probe after the data
    changes."""
    d = tmp_path / "sfdir2"
    d.mkdir()
    f = d / "t.parquet"
    f.write_bytes(b"x")

    calls = []

    def build():
        calls.append(1)
        return spark.range(5).selectExpr("id AS v")

    out = entry._memo_local_relation_capped(
        spark, str(d), "cap-probe", build, cap=3
    )
    assert out is None and len(calls) == 1
    # refusal memoized: second construction does NOT re-probe
    assert entry._memo_local_relation_capped(
        spark, str(d), "cap-probe", build, cap=3
    ) is None
    assert len(calls) == 1
    # under-cap path returns the rows
    under = entry._memo_local_relation_capped(
        spark, str(d), "cap-probe-under", build, cap=10
    )
    assert under is not None and under.count() == 5
    # data change → fingerprint change → the over-cap key re-probes
    f.write_bytes(b"xy")
    assert entry._memo_local_relation_capped(
        spark, str(d), "cap-probe", build, cap=3
    ) is None
    assert len(calls) == 3  # initial probe + under-cap build + re-probe


def test_memo_put_evicts_stale_fingerprints(spark, tmp_path):
    """r12 close-out review: the fingerprint-keyed memos must not be
    append-only — inserting under a NEW data fingerprint evicts the
    same (session, sf_dir, kind) slot's old-fingerprint entries, so
    repeated in-place regens cannot grow driver memory without
    bound. Non-4-tuple keys (corpus-independent artifacts) survive."""
    d = str(tmp_path)
    _write_table(spark, d, 1)

    def build():
        return spark.createDataFrame([(1,)], "v long")

    entry.clear_ann_cache()
    entry._ANN_TRAIN_CACHE[("sess", "independent")] = "keep-me"
    for val in (1, 2, 3):
        _write_table(spark, d, val)
        entry._memo_local_relation(spark, d, "evict_probe", build)
    probe_keys = [
        k for k in entry._ANN_TRAIN_CACHE
        if len(k) == 4 and k[3] == "evict_probe"
    ]
    assert len(probe_keys) == 1, probe_keys
    assert entry._ANN_TRAIN_CACHE[("sess", "independent")] == "keep-me"
    del entry._ANN_TRAIN_CACHE[("sess", "independent")]


def test_parquet_num_rows_multi_file_and_fallback(spark, tmp_path):
    """r16 (r15 verdict #3): the sized-read row count must be
    layout-robust — a multi-file dataset directory sums its file
    footers, and an unreadable layout returns None (callers then
    keep the full-core clamp) instead of raising."""
    d = str(tmp_path / "multi.parquet")
    spark.range(100).repartition(2).write.mode("overwrite").parquet(d)
    import glob

    n_files = len(glob.glob(os.path.join(d, "*.parquet")))
    assert n_files >= 2, "fixture must be a multi-file table"
    assert entry._parquet_num_rows(d) == 100
    # single-file layout still works (the bench/nanocache shape)
    single = str(tmp_path / "single.pq")
    spark.range(7).coalesce(1).toPandas().to_parquet(single)
    assert entry._parquet_num_rows(single) == 7
    # unreadable layout -> None, no raise
    assert entry._parquet_num_rows(str(tmp_path / "nope")) is None


def test_nanocache_copy_follows_source_regenerated_in_place(
    tmp_path, monkeypatch
):
    """`_data_path`'s rewritten copy is keyed on the source's size and
    mtime: a source regenerated under the same path is re-copied, never
    served stale from the earlier copy."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    monkeypatch.setattr(entry, "_NANOCACHE", str(tmp_path / "cache"))
    sf = tmp_path / "sf"
    sf.mkdir()
    src = sf / "t.parquet"
    pq.write_table(pa.table({"id": [1], "v": [10]}), src)
    first = entry._data_path(str(sf), "t")
    assert pq.read_table(first).column("v").to_pylist() == [10]
    # unchanged source: the same copy is served
    assert entry._data_path(str(sf), "t") == first

    pq.write_table(pa.table({"id": [1, 2, 3], "v": [20, 30, 40]}), src)
    second = entry._data_path(str(sf), "t")
    assert second != first
    assert pq.read_table(second).column("v").to_pylist() == [20, 30, 40]
