"""Tests for sources/txtable.py: atomic commits, snapshot isolation, time
travel, optimistic concurrency, crash-leftover behavior, vacuum, and the
multi-table catalog transaction."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from payroll_etl_fastapi_spark.sources.txtable import (
    ConcurrentCommit,
    TxCatalog,
    TxTable,
)


def _ids(df):
    return sorted(r.id for r in df.select("id").collect())


@pytest.fixture()
def table(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.range(10))
    return t


def test_overwrite_append_and_history(spark, table):
    assert _ids(table.snapshot()) == list(range(10))
    v2 = table.append(spark.range(10, 15))
    assert v2 == 2
    assert _ids(table.snapshot()) == list(range(15))
    ops = [h["operation"] for h in table.history()]
    assert ops == ["overwrite", "append"]


def test_snapshot_isolation_and_time_travel(spark, table):
    v1_df = table.snapshot()  # plan pinned to v1's files
    table.append(spark.range(10, 15))
    table.overwrite(spark.range(3))
    # the v1 reader still sees v1 (old files are immutable and un-vacuumed)
    assert _ids(v1_df) == list(range(10))
    assert _ids(table.snapshot()) == list(range(3))
    assert _ids(table.snapshot(version=2)) == list(range(15))


def test_upsert_matches_merge_semantics(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "u"))
    t.overwrite(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    )
    t.upsert(
        spark.createDataFrame([(2, "B"), (3, "c")], "id long, v string"), ["id"]
    )
    got = sorted((r.id, r.v) for r in t.snapshot().collect())
    assert got == [(1, "a"), (2, "B"), (3, "c")]


def _steal_version(table, version):
    """Commit `version` behind a writer's back — the racing-writer window
    between its head read and its publish."""
    with open(os.path.join(table.root, "_tx", f"v{version}.json"), "w") as fh:
        json.dump(
            {
                "operation": "append",
                "data_dirs": list(table._read_manifest(version - 1).data_dirs),
            },
            fh,
        )


def test_publish_cas_rejects_taken_version(spark, table):
    _steal_version(table, 2)
    with pytest.raises(ConcurrentCommit):
        table._publish(2, list(table._read_manifest(1).data_dirs), "overwrite")


def test_upsert_conflict_on_stale_read_set(spark, table, monkeypatch):
    # writer A reads v1; writer B commits v2 before A publishes
    monkeypatch.setattr(table, "latest_version", lambda: 1)
    _steal_version(table, 2)
    with pytest.raises(ConcurrentCommit):
        table.upsert(
            spark.createDataFrame([(1,)], "id long"), ["id"]
        )


def test_append_rebases_past_a_lost_race(spark, table):
    # append's head read happens inside its retry loop, so a version stolen
    # BEFORE the call just moves it to the next slot; verify it lands and
    # the result includes both the stolen commit's view and the new rows
    _steal_version(table, 2)
    v = table.append(spark.range(10, 12))
    assert v == 3
    assert _ids(table.snapshot()) == list(range(12))


def test_crash_leftovers_invisible_and_vacuumed(spark, table):
    # simulate a crash: an unreferenced data dir and a tmp manifest
    orphan = os.path.join(table.root, "data", "c9-deadbeef")
    os.makedirs(orphan)
    spark.range(99).write.mode("overwrite").parquet(orphan)
    with open(os.path.join(table.root, "_tx", ".tmp-crashed.json"), "w") as fh:
        fh.write("{}")
    # readers see only committed state
    assert _ids(table.snapshot()) == list(range(10))
    # a YOUNG orphan may be a concurrent writer's in-flight commit: the
    # default retention must NOT delete it
    assert table.vacuum(keep_last=1) == []
    assert os.path.exists(orphan)
    removed = table.vacuum(keep_last=1, min_orphan_age_seconds=0)
    assert "data/c9-deadbeef" in removed
    assert not os.path.exists(orphan)
    assert _ids(table.snapshot()) == list(range(10))


def test_vacuum_drops_old_versions(spark, table):
    table.overwrite(spark.range(5))
    removed = table.vacuum(keep_last=1)
    assert removed  # v1's data dir went away
    assert _ids(table.snapshot()) == list(range(5))
    with pytest.raises(FileNotFoundError):
        table._read_manifest(1)


def test_catalog_multi_table_atomicity(spark, tmp_path):
    cat = TxCatalog(spark, str(tmp_path / "wh"))
    va = cat.table("a").overwrite(spark.range(3))
    vb = cat.table("b").overwrite(spark.range(7))
    cat.commit({"a": va, "b": vb})
    assert _ids(cat.read("a")) == list(range(3))
    # a table commit WITHOUT a catalog commit stays invisible to catalog
    # readers — the crash-mid-load window of the reference's single tx
    cat.table("a").overwrite(spark.range(100))
    assert _ids(cat.read("a")) == list(range(3))
    # the catalog swap publishes both updates at once
    va2 = cat.table("a").latest_version()
    cat.commit({"a": va2, "b": vb})
    assert _ids(cat.read("a")) == list(range(100))
    assert _ids(cat.read("b")) == list(range(7))


def test_optimize_compacts_without_breaking_old_readers(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "opt"))
    t.overwrite(spark.range(2000).repartition(8))
    t.append(spark.range(2000, 3000).repartition(8))
    v2_df = t.snapshot()  # reader pinned to the fragmented version

    def _n_files(version):
        snap = t._read_manifest(version)
        return sum(
            1
            for rel in snap.data_dirs
            for f in os.listdir(os.path.join(t.root, rel))
            if f.endswith(".parquet")
        )

    assert _n_files(2) == 16
    v3 = t.optimize(target_bytes=1 << 30)
    assert v3 == 3 and _n_files(3) == 1
    assert _ids(t.snapshot()) == list(range(3000))
    # the pre-optimize reader still works (snapshot isolation)
    assert _ids(v2_df) == list(range(3000))
    # already-compact table: no-op, no new version
    assert t.optimize(target_bytes=1 << 30) is None
    assert t.latest_version() == 3


def test_stream_sink_exactly_once(spark, tmp_path):
    """foreachBatch sink: each micro-batch lands as one manifest commit;
    draining the same checkpoint again commits nothing; a replayed epoch
    (simulated by re-running _apply semantics via a fresh drain after
    deleting the checkpoint's commit acknowledgment) is deduplicated by the
    epoch key riding in the manifest."""
    from payroll_etl_fastapi_spark.sources.txtable import write_stream_txtable

    src = str(tmp_path / "src")
    for i in range(3):
        spark.range(i * 10, i * 10 + 10).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    t = TxTable(spark, str(tmp_path / "sink"))
    ckpt = str(tmp_path / "ckpt")
    stream = (
        spark.readStream.schema("id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    write_stream_txtable(stream, t, ckpt)
    assert _ids(t.snapshot()) == list(range(30))
    ops = [h["operation"] for h in t.history()]
    assert ops == ["stream_append"] * 3
    # re-drain with the same checkpoint: no new input, no new commits
    write_stream_txtable(stream, t, ckpt)
    assert t.latest_version() == 3
    # crash-replay simulation: wipe the streaming commit log so the engine
    # replays every batch; the sink's epoch keys must swallow all of them
    import shutil

    shutil.rmtree(os.path.join(ckpt, "commits"))
    write_stream_txtable(stream, t, ckpt)
    assert _ids(t.snapshot()) == list(range(30))
    assert [h["operation"] for h in t.history()].count("stream_append") == 3


def test_epoch_history_survives_vacuum_and_interleaved_dml(spark, tmp_path):
    """The ADVICE r10 carry-chain holes, closed: (a) every stream append
    carries the head's OWN epoch key (not just a consolidated list), so
    with NO optimize between appends a vacuum(keep_last=1) + wiped
    checkpoint still admits nothing twice; (b) a plain batch-DML commit
    interleaved between stream appends carries the history forward like
    constraints, so the same wipe+vacuum sequence after an UPDATE also
    replays clean."""
    import shutil

    from payroll_etl_fastapi_spark.sources.txtable import write_stream_txtable

    src = str(tmp_path / "src")
    for i in range(4):
        spark.range(i * 10, i * 10 + 10).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def _stream():
        return (
            spark.readStream.schema("id long")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

    # (a) 4 stream appends, no optimize, vacuum to the head only: the head
    # must carry epochs 0-2 (its own key covers 3) or the re-drain doubles
    t = TxTable(spark, str(tmp_path / "sink_a"))
    cka = str(tmp_path / "cka")
    write_stream_txtable(_stream(), t, cka)
    assert t.snapshot().count() == 40
    t.vacuum(keep_last=1, min_orphan_age_seconds=0)
    shutil.rmtree(cka)
    write_stream_txtable(_stream(), t, cka)
    assert t.snapshot().count() == 40

    # (b) interleaved batch DML: UPDATE publishes via _publish — its
    # manifest must carry the stream history; vacuum then drops every
    # stream manifest, and the wiped re-drain must still dedup all epochs
    t2 = TxTable(spark, str(tmp_path / "sink_b"))
    ckb = str(tmp_path / "ckb")
    write_stream_txtable(_stream(), t2, ckb)
    t2.update(F.col("id") < 0, {"id": F.lit(-1)})  # no-op rewrite commit
    t2.delete(F.col("id") < 0)  # second history-less-before-the-fix commit
    t2.vacuum(keep_last=1, min_orphan_age_seconds=0)
    shutil.rmtree(ckb)
    write_stream_txtable(_stream(), t2, ckb)
    assert t2.snapshot().count() == 40
    assert t2.snapshot().select("id").distinct().count() == 40


def test_partitioned_commits_prune_and_survive_appends(spark, tmp_path):
    """Hive-partitioned data dirs across multiple commits: partition columns
    resolve through the multi-path read, a partition predicate prunes the
    scan to matching directories, and rows round-trip."""
    import io
    from contextlib import redirect_stdout

    t = TxTable(spark, str(tmp_path / "parted"))
    df1 = spark.range(100).select(
        F.col("id"), (F.col("id") % 3).alias("part")
    )
    df2 = spark.range(100, 160).select(
        F.col("id"), (F.col("id") % 3).alias("part")
    )
    t.overwrite(df1, partition_by=["part"])
    t.append(df2, partition_by=["part"])
    snap = t.snapshot()
    assert sorted(snap.columns) == ["id", "part"]
    assert _ids(snap) == list(range(160))
    got = sorted(r.id for r in snap.filter(F.col("part") == 1).collect())
    assert got == [i for i in range(160) if i % 3 == 1]
    buf = io.StringIO()
    with redirect_stdout(buf):
        snap.filter(F.col("part") == 1).explain(True)
    phys = buf.getvalue().split("== Physical Plan ==")[1]
    assert "PartitionFilters: [isnotnull(part" in phys


def test_partitioned_upsert_and_optimize_preserve_layout(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "pl"))
    df = spark.range(90).select(F.col("id"), (F.col("id") % 3).alias("part"))
    t.overwrite(df.repartition(4), partition_by=["part"])
    t.append(
        spark.range(90, 120).select(F.col("id"), (F.col("id") % 3).alias("part")),
        partition_by=["part"],
    )
    # layout mismatch on append is rejected loudly
    with pytest.raises(ValueError, match="layout"):
        t.append(spark.range(5).select(F.col("id"), F.lit(0).alias("part")))
    t.upsert(
        spark.range(60, 70).select(F.col("id"), F.lit(9).alias("part")), ["id"]
    )
    assert _ids(t.snapshot()) == list(range(120))
    assert t.snapshot().filter(F.col("part") == 9).count() == 10
    v = t.optimize(target_bytes=1 << 30)
    assert v is not None
    # layout survived optimize: partition dirs exist in the new data dir
    snap = t._read_manifest(v)
    assert snap.partition_by == ("part",)
    d = os.path.join(t.root, snap.data_dirs[0])
    assert any(name.startswith("part=") for name in os.listdir(d))
    assert _ids(t.snapshot()) == list(range(120))


def test_schema_evolution_add_column_nullfills_history(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "evo"))
    t.overwrite(spark.createDataFrame([(1, "a")], "id long, v string"))
    t.append(
        spark.createDataFrame([(2, "b", 9.5)], "id long, v string, score double")
    )
    snap = t.snapshot()
    assert sorted(snap.columns) == ["id", "score", "v"]
    got = sorted((r.id, r.v, r.score) for r in snap.collect())
    # the pre-evolution row null-fills the new column
    assert got == [(1, "a", None), (2, "b", 9.5)]
    # old versions read with THEIR schema (no retroactive column)
    assert sorted(t.snapshot(version=1).columns) == ["id", "v"]


def test_schema_evolution_rejects_drops_and_type_changes(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "evo2"))
    t.overwrite(spark.createDataFrame([(1, "a")], "id long, v string"))
    with pytest.raises(ValueError, match="missing table column"):
        t.append(spark.createDataFrame([(2,)], "id long"))
    with pytest.raises(ValueError, match="type changed"):
        t.append(spark.createDataFrame([(2, 3)], "id long, v long"))


def test_optimize_zorder_tightens_both_dimensions(spark, tmp_path):
    """OPTIMIZE ... ZORDER BY shape: after a z-ordered rewrite, per-file
    min/max ranges are narrow in BOTH clustering columns (footer-stat
    pruning for 2-D predicates), and the data survives."""
    t = TxTable(spark, str(tmp_path / "zopt"))
    n = 40000
    df = spark.range(n).select(
        F.col("id"),
        (F.col("id") * 48271 % 65537 % 1000).alias("x"),
        (F.col("id") * 16807 % 65537 % 1000).alias("y"),
    )
    t.overwrite(df.repartition(16))
    v = t.optimize(target_bytes=30_000, zorder_by=["x", "y"])
    assert v == 2
    snap = t.snapshot().withColumn("__f", F.input_file_name())
    ranges = snap.groupBy("__f").agg(
        F.min("x").alias("xlo"), F.max("x").alias("xhi"),
        F.min("y").alias("ylo"), F.max("y").alias("yhi"),
    ).collect()
    assert len(ranges) >= 8
    avg_x = sum(r.xhi - r.xlo for r in ranges) / len(ranges)
    avg_y = sum(r.yhi - r.ylo for r in ranges) / len(ranges)
    # both dimensions well under the full 0..999 spread a 1-D sort leaves
    # in the other column
    assert avg_x < 600 and avg_y < 600, (avg_x, avg_y)
    assert t.snapshot().count() == n
    # z-ordering ON a partition column is meaningless (constant per file)
    t2 = TxTable(spark, str(tmp_path / "zopt2"))
    t2.overwrite(
        spark.range(30).select(F.col("id"), (F.col("id") % 3).alias("p")),
        partition_by=["p"],
    )
    with pytest.raises(ValueError, match="partition columns"):
        t2.optimize(zorder_by=["p", "id"])


def test_optimize_zorder_inside_hive_partitions(spark, tmp_path):
    """Partitioned-table z-order: ONE atomic commit rewrites every hive
    partition with its interior Morton-clustered on (x, y) — per-file
    min/max ranges are narrow in both columns WITHIN each partition, the
    hive layout survives, and old versions stay time-travelable."""
    t = TxTable(spark, str(tmp_path / "pz"))
    n = 40000
    df = spark.range(n).select(
        F.col("id"),
        (F.col("id") % 2).alias("p"),
        (F.col("id") * 48271 % 65537 % 1000).alias("x"),
        (F.col("id") * 16807 % 65537 % 1000).alias("y"),
    )
    t.overwrite(df.repartition(16), partition_by=["p"])
    v = t.optimize(target_bytes=30_000, zorder_by=["x", "y"])
    assert v == 2
    snap = t.snapshot().withColumn("__f", F.input_file_name())
    ranges = snap.groupBy("p", "__f").agg(
        F.min("x").alias("xlo"), F.max("x").alias("xhi"),
        F.min("y").alias("ylo"), F.max("y").alias("yhi"),
    ).collect()
    assert len(ranges) >= 6
    # hive dirs preserved: every file path carries its partition value
    assert all(f"p={r['p']}" in r["__f"] for r in ranges)
    avg_x = sum(r.xhi - r.xlo for r in ranges) / len(ranges)
    avg_y = sum(r.yhi - r.ylo for r in ranges) / len(ranges)
    assert avg_x < 600 and avg_y < 600, (avg_x, avg_y)
    # data intact, layout recorded, single version bump, time travel works
    assert t.snapshot().count() == n
    assert t.snapshot(version=1).count() == n
    assert [h["operation"] for h in t.history()] == ["overwrite", "optimize"]
    got = t._read_manifest(2)
    assert got.partition_by == ("p",)
    # partition pruning still applies after the rewrite
    assert t.snapshot().filter(F.col("p") == 1).count() == n // 2


def test_stream_sink_rejects_partitioned_table(spark, tmp_path):
    from payroll_etl_fastapi_spark.sources.txtable import write_stream_txtable

    t = TxTable(spark, str(tmp_path / "ps"))
    t.overwrite(
        spark.range(10).select(F.col("id"), (F.col("id") % 2).alias("p")),
        partition_by=["p"],
    )
    src = str(tmp_path / "src")
    spark.range(5).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema("id long").parquet(src)
    with pytest.raises(ValueError, match="hive-partitioned"):
        write_stream_txtable(stream, t, str(tmp_path / "ck"))


def test_delete_copy_on_write(spark, table):
    v = table.delete(F.col("id") % 2 == 0)
    assert v == 2
    assert _ids(table.snapshot()) == [1, 3, 5, 7, 9]
    # old version still time-travelable; history records the operation
    assert _ids(table.snapshot(version=1)) == list(range(10))
    assert [h["operation"] for h in table.history()] == ["overwrite", "delete"]
    # NULL-predicate rows are KEPT (filter(~cond) drops only true matches)
    t2 = TxTable(spark, table.root + "2")
    t2.overwrite(
        spark.createDataFrame([(1, 5), (2, None), (3, 20)], "id long, x int")
    )
    t2.delete(F.col("x") > 10)
    got = sorted(r.id for r in t2.snapshot().collect())
    assert got == [1, 2]


def test_update_copy_on_write(spark, table):
    # assignments see OLD values (SQL UPDATE semantics); NULL predicates
    # leave rows untouched; result is cast to the existing column type
    t2 = TxTable(spark, table.root + "_u")
    t2.overwrite(
        spark.createDataFrame(
            [(1, 10, "a"), (2, None, "b"), (3, 30, "c")], "id long, x int, v string"
        )
    )
    v = t2.update(F.col("x") > 5, {"x": F.col("x") + F.col("id"), "v": F.lit("hit")})
    assert v == 2
    got = sorted((r.id, r.x, r.v) for r in t2.snapshot().collect())
    assert got == [(1, 11, "hit"), (2, None, "b"), (3, 33, "hit")]
    # time travel to the pre-update state; history names the op
    old = sorted((r.id, r.x, r.v) for r in t2.snapshot(version=1).collect())
    assert old == [(1, 10, "a"), (2, None, "b"), (3, 30, "c")]
    assert [h["operation"] for h in t2.history()] == ["overwrite", "update"]
    # unknown assignment column fails fast, no version burned
    with pytest.raises(ValueError, match="unknown columns"):
        t2.update(F.lit(True), {"nope": F.lit(1)})
    assert t2.latest_version() == 2


def test_merge_update_insert_delete_one_commit(spark, table):
    t = TxTable(spark, table.root + "_m")
    t.overwrite(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c"), (4, "d")], "id long, v string"
        )
    )
    source = spark.createDataFrame(
        [(2, "B"), (3, "C"), (5, "e")], "id long, v string"
    )
    # matched id=2 deleted, matched id=3 updated, unmatched id=5 inserted,
    # target-only ids 1 and 4 untouched — ONE commit
    v = t.merge(source, ["id"], when_matched_delete=F.col("id") == 2)
    assert v == 2
    got = sorted((r.id, r.v) for r in t.snapshot().collect())
    assert got == [(1, "a"), (3, "C"), (4, "d"), (5, "e")]
    assert [h["operation"] for h in t.history()] == ["overwrite", "merge"]
    assert sorted((r.id, r.v) for r in t.snapshot(version=1).collect()) == [
        (1, "a"), (2, "b"), (3, "c"), (4, "d"),
    ]
    # insert_not_matched=False + update_matched=False degrade to delete-only
    t.merge(
        spark.createDataFrame([(4, "X"), (9, "z")], "id long, v string"),
        ["id"],
        when_matched_delete=F.lit(True),
        update_matched=False,
        insert_not_matched=False,
    )
    assert sorted(r.id for r in t.snapshot().collect()) == [1, 3, 5]


def test_merge_schema_evolution_and_null_source_values(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "me"))
    t.overwrite(spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"))
    # source carries an extra column -> schema widens, old rows null-fill;
    # a legitimately-NULL source value REPLACES the matched target value
    source = spark.createDataFrame(
        [(2, None, 7.5), (3, "c", 1.0)], "id long, v string, w double"
    )
    t.merge(source, ["id"])
    got = sorted(
        (r.id, r.v, r.w) for r in t.snapshot().collect()
    )
    assert got == [(1, "a", None), (2, None, 7.5), (3, "c", 1.0)]
    # missing column still rejected through the append contract
    with pytest.raises(ValueError, match="missing table column"):
        t.merge(spark.createDataFrame([(9,)], "id long"), ["id"])


def test_append_retry_writes_data_dir_once(spark, table, monkeypatch):
    """A lost CAS race must NOT re-run the Spark write job: the loser's
    data directory is reused for the retry publish (no orphan per race)."""
    calls = {"n": 0}
    orig = TxTable._write_data_dir

    def counting(self, df, version, partition_by=None):
        calls["n"] += 1
        return orig(self, df, version, partition_by)

    monkeypatch.setattr(TxTable, "_write_data_dir", counting)
    real_publish = TxTable._publish
    raced = {"done": False}

    def racing_publish(self, version, *a, **k):
        # first publish attempt loses: sneak a competing append in first
        if not raced["done"]:
            raced["done"] = True
            real_publish(self, version, ["data/ghost"], "append", (), None)
        return real_publish(self, version, *a, **k)

    monkeypatch.setattr(TxTable, "_publish", racing_publish)
    # silence the ghost dir on read: only check commit mechanics here
    v = table.append(spark.range(10, 12))
    assert v == 3  # rebased past the ghost's version 2
    assert calls["n"] == 1  # ONE write job despite the lost race


def test_stream_sink_validates_schema_evolution(spark, tmp_path):
    """ADVICE r3: a micro-batch narrower than the evolved table schema must
    raise, not silently stamp the narrow schema over the manifest."""
    from payroll_etl_fastapi_spark.sources.txtable import write_stream_txtable

    t = TxTable(spark, str(tmp_path / "sv"))
    t.overwrite(
        spark.createDataFrame([(1, "x")], "id long, extra string")
    )
    src = str(tmp_path / "src")
    spark.range(5).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema("id long").parquet(src)
    with pytest.raises(Exception, match="missing table column"):
        write_stream_txtable(stream, t, str(tmp_path / "ck"))
    # the failed batch published nothing: table still at v1 with 1 row
    assert t.latest_version() == 1
    assert t.snapshot().count() == 1


def test_cas_publish_manifest_bytes_are_durable(tmp_path, monkeypatch):
    """The tmp manifest is fsynced before the link and the log dir after:
    assert the fsync calls actually happen (the crash itself can't be
    simulated in-process)."""
    import payroll_etl_fastapi_spark.sources.txtable as tx

    synced = []
    real_fsync = os.fsync
    monkeypatch.setattr(tx.os, "fsync", lambda fd: (synced.append(fd), real_fsync(fd))[1])
    tx._cas_publish(str(tmp_path / "_tx"), 1, {"data_dirs": []}, "t")
    assert len(synced) == 2  # file bytes + directory entry


def test_merge_stream_exactly_once_and_replay(spark, tmp_path):
    """Streaming CDC apply: each micro-batch lands as ONE merge commit;
    re-draining the same checkpoint commits nothing; a crash-replay (wiped
    streaming commit log) is swallowed by the epoch keys in the manifests."""
    import shutil

    from payroll_etl_fastapi_spark.sources.txtable import merge_stream_txtable

    src = str(tmp_path / "src")
    # two batches of upserts: ids 0-9 (update evens table), 10-19 (inserts)
    spark.range(0, 10).selectExpr("id", "id * 10 AS v").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    spark.range(10, 20).selectExpr("id", "id * 10 AS v").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    t = TxTable(spark, str(tmp_path / "t"))
    t.overwrite(
        spark.range(0, 10).filter("id % 2 = 0").selectExpr("id", "id AS v")
    )
    ckpt = str(tmp_path / "ckpt")
    stream = (
        spark.readStream.schema("id long, v long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    merge_stream_txtable(
        stream, t, ckpt, keys=["id"], when_matched_delete=F.col("id") == 4
    )
    got = {r.id: r.v for r in t.snapshot().collect()}
    # evens 0-8 updated to id*10 except 4 deleted; odds + 10-19 inserted
    exp = {i: i * 10 for i in range(20) if i != 4}
    assert got == exp
    ops = [h["operation"] for h in t.history()]
    assert ops == ["overwrite", "merge", "merge"]
    v_final = t.latest_version()
    # idempotent re-drain: no new input, no new commits
    merge_stream_txtable(stream, t, ckpt, keys=["id"])
    assert t.latest_version() == v_final
    # crash-replay: wipe the engine's commit log; every batch replays and
    # every one must be recognized as already merged
    shutil.rmtree(os.path.join(ckpt, "commits"))
    merge_stream_txtable(
        stream, t, ckpt, keys=["id"], when_matched_delete=F.col("id") == 4
    )
    assert t.latest_version() == v_final
    assert {r.id: r.v for r in t.snapshot().collect()} == exp
    # a fresh checkpoint is a DIFFERENT query: it must re-apply rather than
    # be deduped against the first query's epochs — and re-applying history
    # to the mutated table RESURRECTS the deleted id=4 (it is unmatched now,
    # so the insert clause fires): exactly why the idempotence key includes
    # the checkpoint identity and replay protection never crosses queries
    merge_stream_txtable(stream, t, str(tmp_path / "ckpt2"), keys=["id"])
    assert {r.id: r.v for r in t.snapshot().collect()} == {**exp, 4: 40}


def test_stream_sink_transform_sketch_exactly_once(spark, tmp_path):
    """write_stream_txtable(transform=): each micro-batch is reduced to a
    CMS delta inside the epoch guard; the bucket-wise merge of the
    committed deltas equals the single-pass batch sketch BIT-FOR-BIT, and
    a re-drain (fresh reader, same checkpoint) or crash-replay (wiped
    streaming commit log) double-counts nothing."""
    import shutil

    from pyspark.sql import functions as F

    from payroll_etl_fastapi_spark.operators import sketch as SK
    from payroll_etl_fastapi_spark.sources.txtable import write_stream_txtable

    src = str(tmp_path / "src")
    spark.range(0, 300).selectExpr("CAST(id % 37 AS STRING) AS k").coalesce(
        1
    ).write.mode("append").parquet(src)
    spark.range(300, 500).selectExpr("CAST(id % 37 AS STRING) AS k").coalesce(
        1
    ).write.mode("append").parquet(src)

    t = TxTable(spark, str(tmp_path / "t"))
    ck = str(tmp_path / "ck")

    def drain():
        stream = (
            spark.readStream.schema("k string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        write_stream_txtable(
            stream, t, ck, transform=lambda b: SK.cms_build(b, "k")
        )

    drain()
    versions_after_first = t.latest_version()
    assert versions_after_first >= 2  # one sketch-delta commit per batch

    def merged():
        return {
            (r.row, r.bucket): r.cnt
            for r in t.snapshot()
            .groupBy("row", "bucket")
            .agg(F.sum("cnt").alias("cnt"))
            .collect()
        }

    single_pass = {
        (r.row, r.bucket): r.cnt
        for r in SK.cms_build(
            spark.range(0, 500).selectExpr("CAST(id % 37 AS STRING) AS k"), "k"
        ).collect()
    }
    assert merged() == single_pass

    # idempotent re-drain: nothing new to read, nothing committed
    drain()
    assert t.latest_version() == versions_after_first
    # crash-replay: wipe the streaming commit log -> batches replay, but
    # the epoch keys in the manifests swallow them (no double counts)
    shutil.rmtree(ck)
    drain()
    assert merged() == single_pass


# -- CHECK constraints -------------------------------------------------------


def test_constraint_blocks_violating_writes_and_carries_forward(spark, table):
    from payroll_etl_fastapi_spark.sources.txtable import ConstraintViolation

    v = table.add_constraint("id_nonneg", "id >= 0")
    assert table.constraints() == {"id_nonneg": "id >= 0"}
    assert table.history()[-1]["operation"] == "add_constraint"
    before = table.latest_version()
    with pytest.raises(ConstraintViolation, match="id_nonneg"):
        table.append(spark.range(-5, -1))
    # the failed write committed nothing
    assert table.latest_version() == before
    assert _ids(table.snapshot()) == list(range(10))
    # a clean append works AND the constraint survives it
    table.append(spark.range(10, 12))
    assert table.constraints() == {"id_nonneg": "id >= 0"}
    # ...and survives update/upsert commits too, still enforcing
    table.update(F.col("id") == 11, {"id": F.lit(99)})
    assert table.constraints() == {"id_nonneg": "id >= 0"}
    with pytest.raises(ConstraintViolation):
        table.update(F.col("id") == 99, {"id": F.lit(-1)})
    assert v == before


def test_add_constraint_rejected_when_existing_data_violates(spark, table):
    from payroll_etl_fastapi_spark.sources.txtable import ConstraintViolation

    before = table.latest_version()
    with pytest.raises(ConstraintViolation):
        table.add_constraint("too_strict", "id >= 5")
    assert table.latest_version() == before
    assert table.constraints() == {}


def test_drop_constraint_reopens_the_gate(spark, table):
    from payroll_etl_fastapi_spark.sources.txtable import ConstraintViolation

    table.add_constraint("small", "id < 100")
    with pytest.raises(ConstraintViolation):
        table.append(spark.range(100, 101))
    table.drop_constraint("small")
    table.append(spark.range(100, 101))
    assert 100 in _ids(table.snapshot())


def test_constraint_null_predicate_passes_sql_3vl(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "n"))
    t.overwrite(
        spark.createDataFrame([(1, 5.0), (2, None)], "id long, v double")
    )
    # SQL CHECK: a NULL predicate is not a violation
    t.add_constraint("v_pos", "v > 0")
    t.append(spark.createDataFrame([(3, None)], "id long, v double"))
    assert t.snapshot().count() == 3


def test_stream_sink_enforces_and_carries_constraints(spark, tmp_path):
    import glob

    from payroll_etl_fastapi_spark.sources.txtable import write_stream_txtable

    src = tmp_path / "src"
    src.mkdir()
    spark.range(5).coalesce(1).write.mode("overwrite").parquet(
        str(src / "batch1")
    )
    t = TxTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.range(3))
    t.add_constraint("id_small", "id < 1000")
    stream = (
        spark.readStream.schema("id long")
        .parquet(str(src / "batch1"))
    )
    write_stream_txtable(stream, t, str(tmp_path / "ckpt"))
    # the streaming append carried the constraint in ITS manifest
    assert t.constraints() == {"id_small": "id < 1000"}
    assert t.history()[-1]["operation"] == "stream_append"
    assert t.snapshot().count() == 8


# -- change data feed / restore / clone --------------------------------------


def test_changes_classifies_insert_update_delete(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "cdf"))
    t.overwrite(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c"), (4, None)], "id long, v string"
        )
    )
    # v2: delete id=1, update id=2 (b->B), id=4 stays NULL (no change),
    # insert id=5
    t.overwrite(
        spark.createDataFrame(
            [(2, "B"), (3, "c"), (4, None), (5, "e")], "id long, v string"
        )
    )
    got = sorted(
        (r._change_type, r.id, r.v)
        for r in t.changes(1, 2, keys=["id"]).collect()
    )
    assert got == [
        ("delete", 1, "a"),
        ("insert", 5, "e"),
        ("update_postimage", 2, "B"),
        ("update_preimage", 2, "b"),
    ]


def test_changes_null_safe_and_unchanged_rows_absent(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "cdfnull"))
    t.overwrite(spark.createDataFrame([(1, None), (2, "x")], "id long, v string"))
    # NULL -> value and value -> NULL are both updates; NULL -> NULL is not
    t.overwrite(spark.createDataFrame([(1, "now"), (2, None)], "id long, v string"))
    got = sorted(
        (r._change_type, r.id) for r in t.changes(1, 2, keys=["id"]).collect()
    )
    assert got == [
        ("update_postimage", 1),
        ("update_postimage", 2),
        ("update_preimage", 1),
        ("update_preimage", 2),
    ]


def test_changes_spans_schema_evolution(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "cdfevo"))
    t.overwrite(spark.createDataFrame([(1,), (2,)], "id long"))
    t.append(spark.createDataFrame([(3, "new")], "id long, extra string"))
    got = sorted(
        (r._change_type, r.id, r.extra)
        for r in t.changes(1, 2, keys=["id"]).collect()
    )
    # pre rows null-fill `extra` exactly like a v2 reader sees them, so ids
    # 1 and 2 are unchanged; only the appended row is an insert
    assert got == [("insert", 3, "new")]


def test_changes_validates_arguments(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "cdfargs"))
    t.overwrite(spark.range(3))
    t.append(spark.range(3, 5))
    with pytest.raises(ValueError, match="requires key columns"):
        t.changes(1, 2)
    with pytest.raises(ValueError, match="same version"):
        t.changes(2, 2, keys=["id"])
    with pytest.raises(ValueError, match="newer than"):
        t.changes(2, 1, keys=["id"])
    with pytest.raises(ValueError, match="not a table column"):
        t.changes(1, 2, keys=["nope"])


def test_restore_is_a_new_commit_preserving_history(spark, table):
    table.append(spark.range(10, 15))
    table.overwrite(spark.range(3))
    v = table.restore(1)
    assert v == 4
    assert _ids(table.snapshot()) == list(range(10))
    # the pre-restore head is still time travelable, and the restore itself
    # is one more history entry
    assert _ids(table.snapshot(version=3)) == list(range(3))
    assert table.history()[-1]["operation"] == "restore"
    # restoring the restore works too (it is just another version)
    table.restore(3)
    assert _ids(table.snapshot()) == list(range(3))


def test_restore_enforces_current_constraints(spark, tmp_path):
    from payroll_etl_fastapi_spark.sources.txtable import ConstraintViolation

    t = TxTable(spark, str(tmp_path / "rc"))
    t.overwrite(spark.range(100))          # v1 has ids up to 99
    t.delete(F.col("id") >= 10)            # v2: only small ids remain
    t.add_constraint("small", "id < 10")   # valid for v2's data
    with pytest.raises(ConstraintViolation):
        t.restore(1)                       # v1's rows violate it
    assert _ids(table_df := t.snapshot()) == list(range(10))


def test_restore_refuses_vacuumed_versions(spark, table):
    import os as _os
    import time as _time

    table.overwrite(spark.range(3))
    # age v1's directory so vacuum (keep_last=1) drops it immediately
    removed = table.vacuum(keep_last=1, min_orphan_age_seconds=0)
    assert removed
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        table.restore(1)


def test_shallow_clone_zero_copy_and_independent(spark, table, tmp_path):
    clone = table.clone(str(tmp_path / "clone"))
    assert _ids(clone.snapshot()) == list(range(10))
    assert clone.history() == [{"version": 1, "operation": "clone", "n_dirs": 1}]
    # no data files were copied into the clone root
    assert not os.path.isdir(str(tmp_path / "clone" / "data"))
    # writes to the clone do not touch the source, and vice versa
    clone.append(spark.range(10, 12))
    table.append(spark.range(20, 21))
    assert _ids(clone.snapshot()) == list(range(12))
    assert _ids(table.snapshot()) == list(range(10)) + [20]
    # vacuum on the clone only touches its own data/ (source dirs survive)
    clone.overwrite(spark.range(2))
    clone.vacuum(keep_last=1, min_orphan_age_seconds=0)
    assert _ids(table.snapshot()) == list(range(10)) + [20]


def test_deep_clone_survives_source_vacuum(spark, table, tmp_path):
    clone = table.clone(str(tmp_path / "deep"), shallow=False)
    table.overwrite(spark.range(2))
    table.vacuum(keep_last=1, min_orphan_age_seconds=0)
    assert _ids(clone.snapshot()) == list(range(10))


def test_clone_carries_schema_and_constraints(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "csrc"))
    t.overwrite(spark.createDataFrame([(1, "a")], "id long, v string"))
    t.add_constraint("pos", "id > 0")
    clone = t.clone(str(tmp_path / "cdst"))
    assert clone.constraints() == {"pos": "id > 0"}
    from payroll_etl_fastapi_spark.sources.txtable import ConstraintViolation

    with pytest.raises(ConstraintViolation):
        clone.append(spark.createDataFrame([(0, "bad")], "id long, v string"))
    with pytest.raises(ValueError, match="already exists"):
        t.clone(str(tmp_path / "cdst"))


def test_stream_txcatalog_dual_table_atomic_exactly_once(spark, tmp_path):
    """Multi-table streaming sink: every micro-batch appends raw + rollup
    and ONE catalog commit makes both visible together; re-drain and
    crash-replay commit nothing; a crash BETWEEN the table commits and the
    catalog commit leaves the orphan version invisible and reused."""
    import shutil

    from pyspark.sql import functions as F

    from payroll_etl_fastapi_spark.sources.txtable import (
        TxCatalog,
        write_stream_txcatalog,
    )

    src = str(tmp_path / "src")
    for i in range(3):
        spark.range(i * 10, i * 10 + 10).coalesce(1).write.mode("append").parquet(src)
    cat = TxCatalog(spark, str(tmp_path / "cat"))
    ckpt = str(tmp_path / "ckpt")

    def outputs():
        return {
            "raw": lambda b: b,
            "rollup": lambda b: b.agg(
                F.count(F.lit(1)).alias("n"), F.sum("id").alias("s")
            ),
        }

    def stream():
        return (
            spark.readStream.schema("id long")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

    write_stream_txcatalog(stream(), cat, ckpt, outputs())
    assert sorted(r.id for r in cat.read("raw").collect()) == list(range(30))
    merged = cat.read("rollup").agg(F.sum("n").alias("n"), F.sum("s").alias("s")).collect()[0]
    assert (merged.n, merged.s) == (30, sum(range(30)))
    assert cat.current() == {"raw": 3, "rollup": 3}

    # re-drain: no new input -> no new commits anywhere
    write_stream_txcatalog(stream(), cat, ckpt, outputs())
    assert cat.current() == {"raw": 3, "rollup": 3}
    assert cat.table("raw").latest_version() == 3

    # crash-replay: wipe streaming commit acks; epoch keys swallow everything
    shutil.rmtree(os.path.join(ckpt, "commits"))
    write_stream_txcatalog(stream(), cat, ckpt, outputs())
    assert sorted(r.id for r in cat.read("raw").collect()) == list(range(30))
    assert cat.table("raw").latest_version() == 3

    # mid-batch crash: commit a table version with a FUTURE epoch key but no
    # catalog commit (the orphan) — a later drain of one new file must REUSE
    # it, not re-append
    from payroll_etl_fastapi_spark.sources.txtable import _stream_append_commit

    spark.range(100, 110).coalesce(1).write.mode("append").parquet(src)
    orphan_key = f"{os.path.abspath(ckpt)}#3"  # the epoch the next drain gets
    new_batch = spark.range(100, 110).toDF("id")
    v_orphan = _stream_append_commit(cat.table("raw"), new_batch, orphan_key)
    assert cat.current()["raw"] == 3  # orphan invisible to catalog readers
    write_stream_txcatalog(stream(), cat, ckpt, outputs())
    assert cat.current()["raw"] == v_orphan  # reused, not re-committed
    assert sorted(r.id for r in cat.read("raw").collect()) == (
        list(range(30)) + list(range(100, 110))
    )
    # raw history: 3 drained + 1 orphan-turned-commit, nothing doubled
    assert cat.table("raw").latest_version() == 4


def test_data_skipping_prunes_dirs_and_matches_full_scan(spark, tmp_path):
    """Manifest-level data skipping: per-dir _stats.json sidecars prune
    whole directories; scan_between equals the full-scan filter, and the
    scan's inputFiles never touch a skipped dir."""
    from pyspark.sql import functions as F

    t = TxTable(spark, str(tmp_path / "t"), stats_cols=["k", "tag"])
    # three appends with disjoint key ranges -> three dirs with tight stats
    t.overwrite(spark.range(0, 100).toDF("k").withColumn("tag", F.lit("a")))
    t.append(spark.range(100, 200).toDF("k").withColumn("tag", F.lit("b")))
    t.append(spark.range(200, 300).toDF("k").withColumn("tag", F.lit("c")))

    keep, total = t.pruned_dirs("k", 120, 180)
    assert total == 3 and len(keep) == 1
    got = t.scan_between("k", 120, 180)
    assert sorted(r.k for r in got.collect()) == list(range(120, 181))
    # physical pin: only the surviving dir's files are read
    kept_dir = keep[0]
    assert all(kept_dir in f for f in got.inputFiles())

    # string stats skip too (ISO-like strings order lexicographically)
    keep_s, _ = t.pruned_dirs("tag", "b", "b")
    assert len(keep_s) == 1
    assert {r.tag for r in t.scan_between("tag", "b", "b").collect()} == {"b"}

    # boundary overlap keeps the dir (99 < 100 <= 100: second dir included)
    keep_b, _ = t.pruned_dirs("k", 99, 100)
    assert len(keep_b) == 2

    # empty result when nothing overlaps, schema preserved
    empty = t.scan_between("k", 5000, 6000)
    assert empty.count() == 0 and empty.columns == ["k", "tag"]


def test_data_skipping_conservative_without_stats(spark, tmp_path):
    """Dirs written WITHOUT stats (another handle, older commits) and
    NULL-only columns are never skipped — pruning may only remove
    provably-dead IO."""
    from pyspark.sql import functions as F

    plain = TxTable(spark, str(tmp_path / "t"))  # no stats_cols
    plain.overwrite(spark.range(0, 50).toDF("k").withColumn("tag", F.lit("x")))
    t = TxTable(spark, str(tmp_path / "t"), stats_cols=["k", "n"])
    t.append(
        spark.range(1000, 1050)
        .toDF("k")
        .withColumn("tag", F.lit("y"))
        .withColumn("n", F.lit(None).cast("long"))
    )
    # first dir has no sidecar -> kept even though 0-49 can't match
    keep, total = t.pruned_dirs("k", 1000, 2000)
    assert total == 2 and len(keep) == 2
    assert sorted(r.k for r in t.scan_between("k", 1000, 1010).collect()) == list(
        range(1000, 1011)
    )
    # all-NULL stats column: bounds are null -> dir kept
    keep_n, _ = t.pruned_dirs("n", 0, 1)
    assert len(keep_n) == 2
    # non-numeric/string stats column is a loud error at write time
    import pytest as _pytest

    bad = TxTable(spark, str(tmp_path / "bad"), stats_cols=["ts"])
    with _pytest.raises(ValueError, match="stats_cols"):
        bad.overwrite(
            spark.sql("SELECT TIMESTAMP '2024-01-01' AS ts, 1 AS v")
        )


# ---------------------------------------------------------------------------
# round 8 (VERDICT r7 #7): replay purity at the TxTable layer — manifests
# fence data dirs at FILE granularity, so an out-of-contract arrival (a part
# file landing in a committed dir AFTER its commit) is invisible to every
# snapshot, change feed, and data-skipping scan, and cannot be blessed by a
# later commit's carry-forward. The warclite timestamp fence's sibling.
# ---------------------------------------------------------------------------


def _inject_post_commit_file(spark, t, version, ids):
    """Write a stray parquet part file into version's committed data dir
    the way a straggler writer or torn copy would — bypassing the log."""
    snap = t._read_manifest(version)
    d = os.path.join(t.root, snap.data_dirs[-1])
    stray = os.path.join(d, "stray")
    spark.range(ids[0], ids[-1] + 1).coalesce(1).write.parquet(stray)
    import glob
    import shutil

    (part,) = glob.glob(os.path.join(stray, "part-*.parquet"))
    shutil.move(part, os.path.join(d, "part-99999-stray.parquet"))
    shutil.rmtree(stray)


def test_post_commit_file_is_excluded_from_snapshot_and_changes(spark, table):
    table.append(spark.range(10, 15))
    _inject_post_commit_file(spark, table, 2, [900, 905])
    # the committed snapshot at every version excludes the stray rows
    assert _ids(table.snapshot()) == list(range(15))
    assert _ids(table.snapshot(2)) == list(range(15))
    # footer row counts read the same fenced files as the snapshot
    assert table.num_rows() == table.num_rows(2) == 15
    assert table.num_rows(1) == 10
    # the change feed replays only committed rows
    ch = table.changes(1, 2, keys=["id"]).collect()
    assert sorted(r.id for r in ch) == list(range(10, 15))
    # a LATER commit carries the original fence forward — it cannot bless
    # the stray file retroactively
    table.append(spark.range(15, 18))
    assert _ids(table.snapshot()) == list(range(18))


def test_post_commit_file_excluded_in_partitioned_dirs(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "p"))
    df = spark.range(8).withColumn("part", (F.col("id") % 2).cast("int"))
    t.overwrite(df, partition_by=["part"])
    snap = t._read_manifest(1)
    pdir = os.path.join(t.root, snap.data_dirs[0], "part=0")
    stray_src = os.path.join(str(tmp_path), "stray_p")
    spark.range(700, 702).coalesce(1).write.parquet(stray_src)
    import glob
    import shutil

    (part,) = glob.glob(os.path.join(stray_src, "part-*.parquet"))
    shutil.move(part, os.path.join(pdir, "part-99999-stray.parquet"))
    got = t.snapshot().collect()
    assert sorted(r.id for r in got) == list(range(8))
    assert t.num_rows() == 8
    # the hive partition column still resolves on the file-fenced read
    assert {r.part for r in got} == {0, 1}


def test_restore_carries_the_original_fence(spark, table):
    """restore() resurrects v1's dirs in a new manifest; the fence it
    carries must be v1's COMMIT-TIME list (backward walk through prior
    versions), not a fresh listing that would bless later arrivals."""
    table.overwrite(spark.range(100, 103))  # v2 drops v1's dir from head
    _inject_post_commit_file(spark, table, 1, [800, 801])
    table.restore(1)  # v3 references v1's dir again
    assert _ids(table.snapshot()) == list(range(10))


def test_pre_r8_manifest_reads_whole_dir_legacy(spark, table):
    """Manifests without data_files (pre-r8) keep the documented legacy
    whole-dir read — the fence is opt-in by commit recency, not a silent
    behavior change for existing tables."""
    mpath = os.path.join(table.root, "_tx", "v1.json")
    doc = json.load(open(mpath))
    assert doc.pop("data_files")  # the fence IS written by default
    json.dump(doc, open(mpath, "w"))
    _inject_post_commit_file(spark, table, 1, [500, 501])
    assert _ids(table.snapshot()) == list(range(10)) + [500, 501]
    assert table.num_rows() == 12  # no fence: the dir is listed, as it is read


def test_clone_carries_the_source_fence(spark, table, tmp_path):
    """Both clone flavors must carry the SOURCE's commit-time file fence:
    a stray part file injected into the source dir before cloning is
    invisible through the clone (shallow references the poisoned source
    dir; deep copytree even copies the stray bytes — the fence excludes
    them either way)."""
    _inject_post_commit_file(spark, table, 1, [600, 601])
    sh = table.clone(str(tmp_path / "sh"), shallow=True)
    assert _ids(sh.snapshot()) == list(range(10))
    dp = table.clone(str(tmp_path / "dp"), shallow=False)
    assert _ids(dp.snapshot()) == list(range(10))
    # and a LATER commit on the clone still carries the fence forward
    dp.append(spark.range(100, 102))
    assert _ids(dp.snapshot()) == list(range(10)) + [100, 101]
