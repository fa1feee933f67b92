"""Delta protocol-native reader/writer (delta_lite) — the S2/K-delta
runtime path executing without delta-spark.

Covers: roundtrip, append vs overwrite semantics, time travel, schema
enforcement, partitioned tables (typed values, NULL partitions, plan-time
pruning through the union), externally-authored logs (hand-written JSON,
remove actions, checkpoint replay), and the documented limits (protocol
v>1, concurrent commit)."""

from __future__ import annotations

import json
import os
import re

import pytest
from pyspark.sql import functions as F

from lcr_etl_upgrade_spark.delta_lite import (
    read_delta_lite,
    replay_log,
    write_delta_lite,
)


def _df(spark, rows, schema="id long, name string"):
    return spark.createDataFrame(rows, schema)


def test_roundtrip_unpartitioned(spark, tmp_path):
    path = str(tmp_path / "t")
    v = write_delta_lite(_df(spark, [(1, "a"), (2, "b")]), path)
    assert v == 0
    got = read_delta_lite(spark, path)
    assert got.schema.simpleString() == "struct<id:bigint,name:string>"
    assert sorted((r.id, r.name) for r in got.collect()) == [(1, "a"), (2, "b")]
    # the log is real protocol v1: one commit with commitInfo (r10) +
    # protocol + metaData + adds (keyed lookup — the protocol does not
    # mandate action order within a commit)
    with open(os.path.join(path, "_delta_log", f"{0:020d}.json")) as fh:
        actions = [json.loads(l) for l in fh if l.strip()]
    assert next(a["protocol"] for a in actions if "protocol" in a) == {
        "minReaderVersion": 1,
        "minWriterVersion": 2,
    }
    assert next(
        a["commitInfo"] for a in actions if "commitInfo" in a
    )["operation"] == "WRITE"
    assert any("metaData" in a for a in actions)
    assert all(
        a["add"]["size"] > 0 for a in actions if "add" in a
    )


def test_append_accumulates_overwrite_replaces(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_lite(_df(spark, [(1, "a")]), path)
    v1 = write_delta_lite(_df(spark, [(2, "b")]), path, mode="append")
    assert v1 == 1
    assert {r.id for r in read_delta_lite(spark, path).collect()} == {1, 2}
    v2 = write_delta_lite(_df(spark, [(9, "z")]), path, mode="overwrite")
    assert v2 == 2
    assert {r.id for r in read_delta_lite(spark, path).collect()} == {9}


def test_time_travel_reads_prior_version(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_lite(_df(spark, [(1, "a")]), path)
    write_delta_lite(_df(spark, [(2, "b")]), path, mode="overwrite")
    assert {r.id for r in read_delta_lite(spark, path, version=0).collect()} == {1}
    assert {r.id for r in read_delta_lite(spark, path, version=1).collect()} == {2}
    with pytest.raises(ValueError, match="version 5 not found"):
        read_delta_lite(spark, path, version=5)


def test_append_column_mismatch_raises(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_lite(_df(spark, [(1, "a")]), path)
    with pytest.raises(ValueError, match="append schema mismatch"):
        write_delta_lite(
            _df(spark, [(1.0,)], "other double"), path, mode="append"
        )


def test_append_maps_columns_by_name(spark, tmp_path):
    """K2 semantics: append reorders by name against the table schema."""
    path = str(tmp_path / "t")
    write_delta_lite(_df(spark, [(1, "a")]), path)
    write_delta_lite(
        _df(spark, [("b", 2)], "name string, id long"), path, mode="append"
    )
    got = {(r.id, r.name) for r in read_delta_lite(spark, path).collect()}
    assert got == {(1, "a"), (2, "b")}


def test_partitioned_roundtrip_typed_and_null(spark, tmp_path):
    path = str(tmp_path / "t")
    df = _df(
        spark,
        [(1, 10, "x"), (2, 20, "y"), (3, None, "z")],
        "id long, bucket int, payload string",
    )
    write_delta_lite(df, path, partition_by=("bucket",))
    got = read_delta_lite(spark, path)
    # partition column comes back TYPED (int, not string) and NULLs survive
    assert dict(got.dtypes)["bucket"] == "int"
    rows = {(r.id, r.bucket) for r in got.collect()}
    assert rows == {(1, 10), (2, 20), (3, None)}
    # appends inherit the table's partitioning without restating it
    write_delta_lite(
        _df(spark, [(4, 10, "w")], "id long, bucket int, payload string"),
        path,
        mode="append",
    )
    st = replay_log(spark, path)
    assert st.partition_columns == ["bucket"]
    assert {
        pv["bucket"] for pv in st.files.values()
    } == {"10", "20", None}


def test_partitioned_read_is_single_relation_with_native_pruning(
    spark, tmp_path
):
    """Tables this writer produced (hive-layout files) must read as ONE
    basePath-discovered parquet relation: a single scan node regardless
    of partition count, with a partition-column filter landing in the
    scan's native PartitionFilters — the plan no longer grows with the
    number of active partitions."""
    path = str(tmp_path / "t")
    df = _df(
        spark,
        [(i, i % 25, "p") for i in range(100)],
        "id long, part int, payload string",
    )
    write_delta_lite(df, path, partition_by=("part",))
    full = read_delta_lite(spark, path)
    full_plan = full._jdf.queryExecution().executedPlan().toString()
    # 25 active partitions, still exactly one scan node (was a 25-branch
    # union before round 5)
    assert full_plan.count("Scan parquet") == 1, full_plan
    q = full.filter(F.col("part") == 1)
    assert q.count() == 4
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "part" in m.group(1), plan


def test_external_non_hive_layout_falls_back_to_pruned_union(
    spark, tmp_path
):
    """An externally-authored log whose add.path does NOT encode the
    partition values (flat data-N.parquet files) must take the union
    fallback — values injected as typed literals from the log — and a
    partition filter must still prune non-matching branches at plan
    time."""
    path = tmp_path / "extpart"
    (path / "_delta_log").mkdir(parents=True)
    # three flat files, one per partition value, paths carry no k=v
    staged = []
    for i, part in enumerate([1, 2, 3]):
        sub = path / f"stage{i}"
        _df(spark, [(10 * part + j, "p") for j in range(3)],
            "id long, payload string").coalesce(1).write.parquet(str(sub))
        f = next(n for n in os.listdir(sub) if n.endswith(".parquet"))
        os.rename(sub / f, path / f"data-{i}.parquet")
        staged.append((f"data-{i}.parquet", str(part)))
    meta = {
        "id": "0000", "format": {"provider": "parquet", "options": {}},
        "schemaString": json.dumps(
            {"type": "struct", "fields": [
                {"name": "id", "type": "long", "nullable": True,
                 "metadata": {}},
                {"name": "payload", "type": "string", "nullable": True,
                 "metadata": {}},
                {"name": "part", "type": "integer", "nullable": True,
                 "metadata": {}}]}
        ),
        "partitionColumns": ["part"], "configuration": {},
    }
    with open(path / "_delta_log" / f"{0:020d}.json", "w") as fh:
        fh.write(json.dumps({"protocol": {"minReaderVersion": 1,
                                          "minWriterVersion": 2}}) + "\n")
        fh.write(json.dumps({"metaData": meta}) + "\n")
        for rel, pv in staged:
            fh.write(json.dumps(
                {"add": {"path": rel, "partitionValues": {"part": pv},
                         "size": 1, "modificationTime": 0,
                         "dataChange": True}}) + "\n")
    got = read_delta_lite(spark, str(path))
    assert dict(got.dtypes)["part"] == "int"
    assert {(r.id, r.part) for r in got.collect()} == {
        (10 * p + j, p) for p in (1, 2, 3) for j in range(3)
    }
    q = read_delta_lite(spark, str(path)).filter(F.col("part") == 2)
    assert q.count() == 3
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") <= 1, plan


def test_externally_authored_log(spark, tmp_path):
    """A log this writer did not produce (URL-encoded path, explicit
    remove action, unknown commitInfo action) replays correctly."""
    path = tmp_path / "ext"
    (path / "_delta_log").mkdir(parents=True)
    spark.range(3).select(F.col("id")).write.parquet(str(path / "staging"))
    parts = [
        f for f in os.listdir(path / "staging") if f.endswith(".parquet")
    ]
    for i, f in enumerate(parts):
        os.rename(path / "staging" / f, path / f"data-{i}.parquet")
    meta = {
        "id": "0000", "format": {"provider": "parquet", "options": {}},
        "schemaString": json.dumps(
            {"type": "struct", "fields": [
                {"name": "id", "type": "long", "nullable": True,
                 "metadata": {}}]}
        ),
        "partitionColumns": [], "configuration": {},
    }
    with open(path / "_delta_log" / f"{0:020d}.json", "w") as fh:
        fh.write(json.dumps({"protocol": {"minReaderVersion": 1,
                                          "minWriterVersion": 2}}) + "\n")
        fh.write(json.dumps({"metaData": meta}) + "\n")
        fh.write(json.dumps({"commitInfo": {"operation": "WRITE"}}) + "\n")
        for i in range(len(parts)):
            fh.write(json.dumps(
                {"add": {"path": f"data-{i}.parquet",
                         "partitionValues": {}, "size": 1,
                         "modificationTime": 0, "dataChange": True}}) + "\n")
    # second commit removes every file -> table is empty but typed
    with open(path / "_delta_log" / f"{1:020d}.json", "w") as fh:
        for i in range(len(parts)):
            fh.write(json.dumps(
                {"remove": {"path": f"data-{i}.parquet",
                            "deletionTimestamp": 1,
                            "dataChange": True}}) + "\n")
    assert read_delta_lite(spark, str(path), version=0).count() == 3
    empty = read_delta_lite(spark, str(path))
    assert empty.count() == 0
    assert empty.schema.simpleString() == "struct<id:bigint>"


def test_checkpoint_replay(spark, tmp_path):
    """State resumes from a single-part parquet checkpoint: commits before
    it are not re-read (they are DELETED here to prove it)."""
    path = str(tmp_path / "t")
    write_delta_lite(_df(spark, [(1, "a")]), path)
    write_delta_lite(_df(spark, [(2, "b")]), path, mode="append")
    st = replay_log(spark, path)
    # author a checkpoint at the current version, delta-protocol shape
    rows = []
    for rel, pv in st.files.items():
        rows.append({"add": {"path": rel, "partitionValues": pv, "size": 1,
                             "modificationTime": 0, "dataChange": True},
                     "metaData": None, "protocol": None})
    rows.append({"add": None, "metaData": st.metadata, "protocol": None})
    rows.append({"add": None, "metaData": None, "protocol": st.protocol})
    import pandas as pd

    cp = os.path.join(path, "_delta_log", f"{st.version:020d}.checkpoint.parquet")
    spark.createDataFrame(pd.DataFrame({"raw": [json.dumps(r) for r in rows]})) \
        .select(F.from_json(
            "raw",
            "add struct<path:string,partitionValues:map<string,string>,"
            "size:long,modificationTime:long,dataChange:boolean>,"
            "metaData struct<id:string,format:struct<provider:string>,"
            "schemaString:string,partitionColumns:array<string>>,"
            "protocol struct<minReaderVersion:int,minWriterVersion:int>",
        ).alias("a")).select("a.*").coalesce(1).write.mode("overwrite") \
        .parquet(cp + ".d")
    part = next(f for f in os.listdir(cp + ".d") if f.endswith(".parquet"))
    os.rename(os.path.join(cp + ".d", part), cp)
    with open(os.path.join(path, "_delta_log", "_last_checkpoint"), "w") as fh:
        json.dump({"version": st.version, "size": len(rows)}, fh)
    # delete the pre-checkpoint commits: replay MUST NOT need them
    for v in range(st.version + 1):
        os.remove(os.path.join(path, "_delta_log", f"{v:020d}.json"))
    assert {r.id for r in read_delta_lite(spark, path).collect()} == {1, 2}
    # and a post-checkpoint commit still applies on top
    write_delta_lite(_df(spark, [(3, "c")]), path, mode="append")
    assert {r.id for r in read_delta_lite(spark, path).collect()} == {1, 2, 3}


def test_multipart_checkpoint_replay(spark, tmp_path):
    """A MULTI-PART classic checkpoint ({v}.checkpoint.{i}.{n}.parquet
    with a `parts` field in _last_checkpoint — what delta-spark writes
    for large tables) replays correctly with pre-checkpoint commits
    deleted; an incomplete part set fails loudly."""
    import pandas as pd

    path = str(tmp_path / "t")
    write_delta_lite(_df(spark, [(1, "a")]), path)
    write_delta_lite(_df(spark, [(2, "b")]), path, mode="append")
    st = replay_log(spark, path)
    adds = [
        {"add": {"path": rel, "partitionValues": pv, "size": 1,
                 "modificationTime": 0, "dataChange": True},
         "metaData": None, "protocol": None}
        for rel, pv in st.files.items()
    ]
    meta_rows = [
        {"add": None, "metaData": st.metadata, "protocol": None},
        {"add": None, "metaData": None, "protocol": st.protocol},
    ]
    schema = (
        "add struct<path:string,partitionValues:map<string,string>,"
        "size:long,modificationTime:long,dataChange:boolean>,"
        "metaData struct<id:string,format:struct<provider:string>,"
        "schemaString:string,partitionColumns:array<string>>,"
        "protocol struct<minReaderVersion:int,minWriterVersion:int>"
    )
    log_dir = os.path.join(path, "_delta_log")
    # part 1 = adds, part 2 = metaData+protocol — two separate files
    for i, rows in ((1, adds), (2, meta_rows)):
        d = os.path.join(log_dir, f"cp{i}.d")
        spark.createDataFrame(
            pd.DataFrame({"raw": [json.dumps(r) for r in rows]})
        ).select(F.from_json("raw", schema).alias("a")).select(
            "a.*"
        ).coalesce(1).write.mode("overwrite").parquet(d)
        part = next(f for f in os.listdir(d) if f.endswith(".parquet"))
        os.rename(
            os.path.join(d, part),
            os.path.join(
                log_dir,
                f"{st.version:020d}.checkpoint.{i:010d}.{2:010d}.parquet",
            ),
        )
    with open(os.path.join(log_dir, "_last_checkpoint"), "w") as fh:
        json.dump(
            {"version": st.version, "size": len(adds) + 2, "parts": 2}, fh
        )
    for v in range(st.version + 1):
        os.remove(os.path.join(log_dir, f"{v:020d}.json"))
    assert {r.id for r in read_delta_lite(spark, path).collect()} == {1, 2}
    # missing part -> loud error, never a partial state
    os.remove(
        os.path.join(
            log_dir,
            f"{st.version:020d}.checkpoint.{2:010d}.{2:010d}.parquet",
        )
    )
    with pytest.raises(ValueError, match="incomplete"):
        read_delta_lite(spark, path)


def test_protocol_v2_raises(spark, tmp_path):
    path = tmp_path / "t"
    (path / "_delta_log").mkdir(parents=True)
    with open(path / "_delta_log" / f"{0:020d}.json", "w") as fh:
        fh.write(json.dumps({"protocol": {"minReaderVersion": 3,
                                          "minWriterVersion": 7,
                                          "readerFeatures": ["someFutureFeature"]
                                          }}) + "\n")
    with pytest.raises(NotImplementedError, match="minReaderVersion=3"):
        read_delta_lite(spark, str(path))


def test_concurrent_overwrite_detected(spark, tmp_path, monkeypatch):
    """Two OVERWRITE writers replaying the same snapshot race for the same
    version file; overwrite keeps single-writer semantics, so the
    open('x') commit point makes the loser fail loudly (and clean up its
    staged data files) instead of clobbering the log."""
    import lcr_etl_upgrade_spark.delta_lite as dl

    path = str(tmp_path / "t")
    write_delta_lite(_df(spark, [(1, "a")]), path)
    stale = replay_log(spark, path)  # snapshot BEFORE the racer commits
    with open(os.path.join(path, "_delta_log", f"{1:020d}.json"), "w") as fh:
        fh.write("\n")  # the racer wins version 1
    monkeypatch.setattr(dl, "replay_log", lambda *a, **k: stale)
    with pytest.raises(FileExistsError, match="concurrent commit"):
        dl.write_delta_lite(_df(spark, [(2, "b")]), path, mode="overwrite")
    # the loser's data files were rolled back: state is still version 1's
    monkeypatch.undo()
    assert {r.id for r in read_delta_lite(spark, path).collect()} == {1}


def test_concurrent_appends_both_land(spark, tmp_path):
    """Two append writers racing on the same table: appends are
    logically conflict-free (disjoint UUID-named file sets, no metadata
    change), so the loser retries at the next version and BOTH commits
    land — the reference's sync stage landing multiple tables into the
    same zone concurrently (/root/reference/sync.py:112-114) needs this.
    """
    import threading

    path = str(tmp_path / "t")
    write_delta_lite(_df(spark, [(0, "seed")]), path)
    barrier = threading.Barrier(2)
    errors: list[Exception] = []

    def appender(i: int) -> None:
        df = _df(spark, [(i, f"w{i}")])
        try:
            barrier.wait()
            write_delta_lite(df, path, mode="append")
        except Exception as exc:  # pragma: no cover - failure evidence
            errors.append(exc)

    threads = [
        threading.Thread(target=appender, args=(i,)) for i in (1, 2)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == []
    state = replay_log(spark, path)
    assert state.version == 2  # versions 1 and 2 both committed
    got = read_delta_lite(spark, path)
    assert {r.id for r in got.collect()} == {0, 1, 2}


def test_concurrent_append_schema_change_refused(spark, tmp_path, monkeypatch):
    """If the racing winner CHANGED the schema (overwrite with new
    columns), a retried append must refuse instead of landing rows the
    new schema cannot read."""
    import lcr_etl_upgrade_spark.delta_lite as dl

    path = str(tmp_path / "t")
    write_delta_lite(_df(spark, [(1, "a")]), path)
    stale = replay_log(spark, path)

    real_replay = dl.replay_log
    calls = {"n": 0}

    def racing_replay(*a, **k):
        calls["n"] += 1
        if calls["n"] == 1:
            # the appender's initial snapshot is stale; meanwhile the
            # winner overwrites with a DIFFERENT schema at version 1
            write_delta_lite(
                _df(spark, [(9, "x", "extra")],
                    "id long, value string, extra string"),
                path,
                mode="overwrite",
            )
            return stale
        return real_replay(*a, **k)

    monkeypatch.setattr(dl, "replay_log", racing_replay)
    with pytest.raises(FileExistsError, match="schema, partitioning, column mapping or"):
        dl.write_delta_lite(_df(spark, [(2, "b")]), path, mode="append")
    monkeypatch.undo()
    assert {r.id for r in read_delta_lite(spark, path).collect()} == {9}


def test_not_a_delta_table(spark, tmp_path):
    spark.range(2).write.parquet(str(tmp_path / "plain"))
    with pytest.raises(FileNotFoundError, match="no _delta_log"):
        read_delta_lite(spark, str(tmp_path / "plain"))


def test_registry_paths_use_delta_lite(spark, tmp_path):
    """Without delta-spark, sources.read_delta and the delta sinks run on
    the protocol-native path instead of raising (S2 ungated)."""
    from lcr_etl_upgrade_spark.sinks.registry import write
    from lcr_etl_upgrade_spark.sources.registry import read_delta

    path = str(tmp_path / "t")
    write(_df(spark, [(1, "a")]), "delta_overwrite", path)
    write(_df(spark, [(2, "b")]), "delta_append", path)
    got = read_delta(spark, path)
    assert {r.id for r in got.collect()} == {1, 2}
    assert {r.id for r in read_delta(spark, path, version=0).collect()} == {1}


def test_reference_flow_sync_to_delta_to_ingest(spark, tmp_path):
    """The reference's actual storage flow, end to end on delta_lite:
    source -> sync (audit enrichment + reconciliation) -> Delta RAW
    (overwriteSchema disposition, sync.py:112-114) -> ingest re-reads the
    Delta table (ingest.py:644-650). Previously this composition only ran
    over a parquet twin."""
    from lcr_etl_upgrade_spark.sinks.registry import write
    from lcr_etl_upgrade_spark.sources.registry import read_delta
    from lcr_etl_upgrade_spark.sync import sync_table

    raw = str(tmp_path / "RAW" / "t")
    src = spark.createDataFrame(
        [(i, f"v{i}") for i in range(8)], ["id", "v"]
    )
    result = sync_table(
        src,
        "t",
        sink=lambda d: write(d, "delta_overwrite", raw),
        verify_reader=lambda: read_delta(spark, raw),
        source_count=8,
        as_of="2026-01-01 00:00:00",
    )
    assert result.reconciled and result.reconciliation == "3-way"
    back = read_delta(spark, raw)
    assert back.count() == 8
    assert "ETL_CREATED_DATE" in back.columns
    # a second sync run overwrites (not duplicates) — the reference's
    # full-load disposition; version 0 still holds the first load
    sync_table(
        src.limit(3),
        "t",
        sink=lambda d: write(d, "delta_overwrite", raw),
        verify_reader=lambda: read_delta(spark, raw),
        source_count=3,
        as_of="2026-01-02 00:00:00",
    )
    assert read_delta(spark, raw).count() == 3
    assert read_delta(spark, raw, version=0).count() == 8


def test_writer_auto_checkpoints_and_bounds_replay(spark, tmp_path):
    """Version 10 triggers the automatic checkpoint; replay afterwards
    resumes from it (proved by deleting every pre-checkpoint commit) and
    the table keeps accepting commits on top."""
    from lcr_etl_upgrade_spark.delta_lite import CHECKPOINT_INTERVAL

    path = str(tmp_path / "t")
    write_delta_lite(_df(spark, [(0, "r0")]), path)
    for i in range(1, CHECKPOINT_INTERVAL + 1):
        write_delta_lite(_df(spark, [(i, f"r{i}")]), path, mode="append")
    log = os.path.join(path, "_delta_log")
    assert os.path.exists(os.path.join(log, "_last_checkpoint"))
    with open(os.path.join(log, "_last_checkpoint")) as fh:
        assert json.load(fh)["version"] == CHECKPOINT_INTERVAL
    for v in range(CHECKPOINT_INTERVAL):
        os.remove(os.path.join(log, f"{v:020d}.json"))
    got = read_delta_lite(spark, path)
    assert {r.id for r in got.collect()} == set(range(CHECKPOINT_INTERVAL + 1))
    # checkpoint add.size is the real on-disk size (protocol fidelity)
    st = replay_log(spark, path)
    assert st.version == CHECKPOINT_INTERVAL
    write_delta_lite(_df(spark, [(99, "z")]), path, mode="append")
    assert 99 in {r.id for r in read_delta_lite(spark, path).collect()}


def test_streaming_upsert_into_delta_table(spark, tmp_path):
    """The stage-then-swap dance the parquet streaming upsert needs
    (test_incremental_streaming.py) disappears on Delta: foreachBatch
    reads the current version, merges, and commits a NEW version — the
    log IS the swap, and every micro-batch stays queryable as history."""
    import datetime as dt

    from lcr_etl_upgrade_spark.operators.merge import upsert

    src_dir = tmp_path / "src"
    src_dir.mkdir()
    out = str(tmp_path / "delta_target")
    schema = "id long, v string, MODIFY_DATE timestamp"
    b1 = spark.createDataFrame(
        [(1, "a1", dt.datetime(2024, 6, 1)),
         (2, "b1", dt.datetime(2024, 6, 1))], schema)
    b2 = spark.createDataFrame(
        [(2, "b2", dt.datetime(2024, 6, 2)),
         (3, "c1", dt.datetime(2024, 6, 2))], schema)
    b1.coalesce(1).write.parquet(str(src_dir / "b1"))

    def apply_batch(bdf, epoch_id):
        try:
            current = read_delta_lite(bdf.sparkSession, out)
            merged = upsert(current, bdf, ["id"])
        except FileNotFoundError:  # first batch creates the table
            merged = bdf
        write_delta_lite(merged, out, mode="overwrite")

    stream = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src_dir / "*"))
    )
    q = stream.writeStream.foreachBatch(apply_batch).start()
    try:
        q.processAllAvailable()
        b2.coalesce(1).write.parquet(str(src_dir / "b2"))
        q.processAllAvailable()
    finally:
        q.stop()
    final = {r.id: r.v for r in read_delta_lite(spark, out).collect()}
    assert final == {1: "a1", 2: "b2", 3: "c1"}
    # history: version 0 is the pre-update state (audit for free)
    v0 = {r.id: r.v for r in read_delta_lite(spark, out, version=0).collect()}
    assert v0 == {1: "a1", 2: "b1"}


def test_delta_read_pushes_filters_to_parquet_scan(spark, tmp_path):
    """delta_lite reads are plain parquet scans under the hood, so data-
    column predicates must still reach the scan (PushedFilters) — the
    log replay adds no layer that would block Catalyst pushdown."""
    path = str(tmp_path / "t")
    write_delta_lite(
        _df(spark, [(i, f"n{i}") for i in range(100)]), path
    )
    q = read_delta_lite(spark, path).filter(F.col("id") > 90)
    assert q.count() == 9
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(id), GreaterThan(id,90)" in plan, plan


def test_gapped_log_refuses_instead_of_partial_state(spark, tmp_path):
    """Deleting a pre-checkpoint commit and then time-traveling BELOW the
    checkpoint must fail loudly — replaying the partial log would
    silently drop the deleted commit's files from the reconstruction."""
    path = str(tmp_path / "t")
    write_delta_lite(_df(spark, [(0, "a")]), path)
    write_delta_lite(_df(spark, [(1, "b")]), path, mode="append")
    write_delta_lite(_df(spark, [(2, "c")]), path, mode="append")
    os.remove(os.path.join(path, "_delta_log", f"{1:020d}.json"))
    with pytest.raises(ValueError, match="commit 1 is missing"):
        read_delta_lite(spark, path)
    with pytest.raises(ValueError, match="commit 1 is missing"):
        read_delta_lite(spark, path, version=2)
    # version 0 is still fully reconstructible
    assert {r.id for r in read_delta_lite(spark, path, version=0).collect()} == {0}


def test_vacuum_removes_only_orphans(spark, tmp_path):
    """Orphans from a crashed writer (stray staged dir, moved-but-never-
    committed parquet) are removed; every file referenced by ANY version
    survives, so time travel keeps working after the vacuum."""
    from lcr_etl_upgrade_spark.delta_lite import vacuum

    path = str(tmp_path / "t")
    write_delta_lite(_df(spark, [(1, "a")]), path)
    write_delta_lite(_df(spark, [(2, "b")]), path, mode="overwrite")
    # simulate a crash: a staging leftover and an uncommitted data file
    os.makedirs(os.path.join(path, "_staging-deadbeef"))
    with open(os.path.join(path, "_staging-deadbeef", "x.parquet"), "wb"):
        pass
    with open(os.path.join(path, "orphan-file.parquet"), "wb"):
        pass
    removed = vacuum(spark, path)
    assert sorted(removed) == ["_staging-deadbeef", "orphan-file.parquet"]
    assert not os.path.exists(os.path.join(path, "orphan-file.parquet"))
    # both versions still reconstruct: v0's files were removed from the
    # ACTIVE set by the overwrite but stay referenced by the log
    assert {r.id for r in read_delta_lite(spark, path).collect()} == {2}
    assert {r.id for r in read_delta_lite(spark, path, version=0).collect()} == {1}
    # idempotent
    assert vacuum(spark, path) == []


def test_partition_values_with_special_chars_roundtrip(spark, tmp_path):
    """Partition values containing the characters hive-escapes in dir
    names (colon, space, percent, slash) must survive the dir-name
    encode/decode roundtrip into partitionValues and back into typed
    columns."""
    path = str(tmp_path / "t")
    vals = ["a:b", "with space", "100%", "a/b", "plain"]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id long, part string"
    )
    write_delta_lite(df, path, partition_by=("part",))
    st = replay_log(spark, path)
    assert {pv["part"] for pv in st.files.values()} == set(vals)
    got = {r.id: r.part for r in read_delta_lite(spark, path).collect()}
    assert got == {i: v for i, v in enumerate(vals)}


def test_sink_registry_partitioned_delta_write(spark, tmp_path):
    """The delta_overwrite sink forwards partition_by (comma list) into
    the lite writer."""
    from lcr_etl_upgrade_spark.sinks.registry import write

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, 10), (2, 20)], "id long, bucket int"
    )
    write(df, "delta_overwrite", path, partition_by="bucket")
    st = replay_log(spark, path)
    assert st.partition_columns == ["bucket"]
    got = {r.id: r.bucket for r in read_delta_lite(spark, path).collect()}
    assert got == {1: 10, 2: 20}


def test_random_commit_sequences_match_model(spark, tmp_path):
    """Model-based check over random overwrite/append commit sequences:
    after each commit, EVERY historical version must reconstruct exactly
    the model's row set for that version — the core log-replay
    invariant. Deterministic seeds; 3 sequences x 6 commits."""
    import random

    for seed in (11, 23, 47):
        rng = random.Random(seed)
        path = str(tmp_path / f"t{seed}")
        model: list[set[int]] = []  # version -> expected id set
        next_id = 0
        for step in range(6):
            batch = set(range(next_id, next_id + rng.randint(1, 4)))
            next_id += len(batch)
            mode = "overwrite" if step == 0 or rng.random() < 0.4 else "append"
            df = _df(spark, [(i, f"v{i}") for i in sorted(batch)])
            v = write_delta_lite(df, path, mode=mode)
            assert v == len(model)
            prev = model[-1] if (model and mode == "append") else set()
            model.append(prev | batch)
        for version, expected in enumerate(model):
            got = {
                r.id
                for r in read_delta_lite(spark, path, version=version).collect()
            }
            assert got == expected, (seed, version)


def test_reader_ignores_in_flight_staging(spark, tmp_path):
    """A reader arriving while another writer is mid-stage must see only
    the committed state: staging contents are invisible to log replay."""
    path = str(tmp_path / "t")
    write_delta_lite(_df(spark, [(1, "a")]), path)
    staging = os.path.join(path, "_staging-inflight")
    os.makedirs(staging)
    _df(spark, [(99, "z")]).write.parquet(os.path.join(staging, "data"))
    assert {r.id for r in read_delta_lite(spark, path).collect()} == {1}


def test_delta_sink_partition_by_parity(spark, tmp_path):
    """The `partition_by` sink option must shape the table layout on
    WHICHEVER delta path is active (delta-spark or delta_lite) — it used
    to be honored only on the fallback."""
    from lcr_etl_upgrade_spark.sinks.registry import get_sink

    sink = get_sink("delta_overwrite", partition_by="p")
    assert sink.partition_by == ("p",)
    assert "partition_by" not in sink.options
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "a")], "id long, p string"
    )
    sink(df, path)
    parts = {e for e in os.listdir(path) if e.startswith("p=")}
    assert parts == {"p=a", "p=b"}


def test_vacuum_keeps_files_referenced_only_by_multipart_checkpoint(
    spark, tmp_path
):
    """vacuum's referenced-set scan must parse MULTI-part checkpoint
    files too: on a table whose pre-checkpoint commits were cleaned up,
    the checkpoint is the ONLY reference to the active data files —
    missing it would delete live data."""
    import pandas as pd

    from lcr_etl_upgrade_spark.delta_lite import vacuum

    path = str(tmp_path / "t")
    write_delta_lite(_df(spark, [(1, "a")]), path)
    write_delta_lite(_df(spark, [(2, "b")]), path, mode="append")
    st = replay_log(spark, path)
    adds = [
        {"add": {"path": rel, "partitionValues": pv, "size": 1,
                 "modificationTime": 0, "dataChange": True},
         "metaData": None, "protocol": None}
        for rel, pv in st.files.items()
    ]
    meta_rows = [
        {"add": None, "metaData": st.metadata, "protocol": None},
        {"add": None, "metaData": None, "protocol": st.protocol},
    ]
    schema = (
        "add struct<path:string,partitionValues:map<string,string>,"
        "size:long,modificationTime:long,dataChange:boolean>,"
        "metaData struct<id:string,format:struct<provider:string>,"
        "schemaString:string,partitionColumns:array<string>>,"
        "protocol struct<minReaderVersion:int,minWriterVersion:int>"
    )
    log_dir = os.path.join(path, "_delta_log")
    for i, rows in ((1, adds), (2, meta_rows)):
        d = os.path.join(log_dir, f"cp{i}.d")
        spark.createDataFrame(
            pd.DataFrame({"raw": [json.dumps(r) for r in rows]})
        ).select(F.from_json("raw", schema).alias("a")).select(
            "a.*"
        ).coalesce(1).write.mode("overwrite").parquet(d)
        part = next(f for f in os.listdir(d) if f.endswith(".parquet"))
        os.rename(
            os.path.join(d, part),
            os.path.join(
                log_dir,
                f"{st.version:020d}.checkpoint.{i:010d}.{2:010d}.parquet",
            ),
        )
        import shutil as _sh
        _sh.rmtree(d, ignore_errors=True)
    with open(os.path.join(log_dir, "_last_checkpoint"), "w") as fh:
        json.dump(
            {"version": st.version, "size": len(adds) + 2, "parts": 2}, fh
        )
    for v in range(st.version + 1):
        os.remove(os.path.join(log_dir, f"{v:020d}.json"))
    removed = vacuum(spark, path)
    assert removed == []  # every data file is live, nothing to reap
    assert {r.id for r in read_delta_lite(spark, path).collect()} == {1, 2}


def test_concurrent_append_type_change_refused(spark, tmp_path, monkeypatch):
    """A racing overwrite that keeps the column NAMES but changes a TYPE
    must also refuse the retried append — name-equality alone would
    commit parquet files whose physical type contradicts metaData."""
    import lcr_etl_upgrade_spark.delta_lite as dl

    path = str(tmp_path / "t")
    write_delta_lite(_df(spark, [(1, "a")]), path)
    stale = replay_log(spark, path)

    real_replay = dl.replay_log
    calls = {"n": 0}

    def racing_replay(*a, **k):
        calls["n"] += 1
        if calls["n"] == 1:
            write_delta_lite(
                _df(spark, [("9", "x")], "id string, value string"),
                path,
                mode="overwrite",
            )
            return stale
        return real_replay(*a, **k)

    monkeypatch.setattr(dl, "replay_log", racing_replay)
    with pytest.raises(FileExistsError, match="schema, partitioning, column mapping or"):
        dl.write_delta_lite(_df(spark, [(2, "b")]), path, mode="append")
    monkeypatch.undo()
    assert {r.id for r in read_delta_lite(spark, path).collect()} == {"9"}


# ---- v2 (UUID-named) checkpoints, public protocol "V2 spec" -------------

_V2_UUID = "0f7a3b1c-2d4e-4f60-8a9b-0c1d2e3f4a5b"


def _author_v2_checkpoint(spark, path, layout):
    """Rewrite a delta_lite-written table as if a modern writer had
    checkpointed it with a v2 UUID-named checkpoint (layout='sidecar':
    parquet manifest + add actions in _sidecars/ files; layout='json':
    inline .json checkpoint), deleting the pre-checkpoint commits so the
    checkpoint is the ONLY route to the state. Returns the table state
    that was checkpointed."""
    import pandas as pd

    st = replay_log(spark, path)
    log_dir = os.path.join(path, "_delta_log")
    protocol = {
        "minReaderVersion": 3,
        "minWriterVersion": 7,
        "readerFeatures": ["v2Checkpoint"],
        "writerFeatures": ["v2Checkpoint"],
    }
    adds = [
        {"add": {"path": rel, "partitionValues": pv, "size": 1,
                 "modificationTime": 0, "dataChange": True}}
        for rel, pv in st.files.items()
    ]
    if layout == "json":
        cp_name = f"{st.version:020d}.checkpoint.{_V2_UUID}.json"
        with open(os.path.join(log_dir, cp_name), "w") as fh:
            fh.write(json.dumps({"checkpointMetadata": {"version": st.version}}) + "\n")
            fh.write(json.dumps({"metaData": st.metadata}) + "\n")
            fh.write(json.dumps({"protocol": protocol}) + "\n")
            for a in adds:
                fh.write(json.dumps(a) + "\n")
    else:
        side_dir = os.path.join(log_dir, "_sidecars")
        os.makedirs(side_dir, exist_ok=True)
        add_schema = (
            "add struct<path:string,partitionValues:map<string,string>,"
            "size:long,modificationTime:long,dataChange:boolean>"
        )
        # split the adds across TWO sidecar files to prove multi-sidecar
        halves = [adds[: len(adds) // 2], adds[len(adds) // 2 :]]
        side_names = []
        for i, half in enumerate(h for h in halves if h):
            d = os.path.join(log_dir, f"side{i}.d")
            spark.createDataFrame(
                pd.DataFrame({"raw": [json.dumps(r) for r in half]})
            ).select(F.from_json("raw", add_schema).alias("a")).select(
                "a.*"
            ).coalesce(1).write.mode("overwrite").parquet(d)
            part = next(f for f in os.listdir(d) if f.endswith(".parquet"))
            name = f"{_V2_UUID[:8]}-{i:04d}.parquet"
            os.rename(os.path.join(d, part), os.path.join(side_dir, name))
            import shutil as _sh

            _sh.rmtree(d, ignore_errors=True)
            side_names.append(name)
        manifest_rows = [
            {"metaData": st.metadata, "protocol": None, "sidecar": None},
            {"metaData": None, "protocol": protocol, "sidecar": None},
        ] + [
            {"metaData": None, "protocol": None,
             "sidecar": {"path": n, "sizeInBytes": 1, "modificationTime": 0}}
            for n in side_names
        ]
        man_schema = (
            "metaData struct<id:string,format:struct<provider:string>,"
            "schemaString:string,partitionColumns:array<string>>,"
            "protocol struct<minReaderVersion:int,minWriterVersion:int,"
            "readerFeatures:array<string>,writerFeatures:array<string>>,"
            "sidecar struct<path:string,sizeInBytes:long,"
            "modificationTime:long>"
        )
        d = os.path.join(log_dir, "man.d")
        spark.createDataFrame(
            pd.DataFrame({"raw": [json.dumps(r) for r in manifest_rows]})
        ).select(F.from_json("raw", man_schema).alias("a")).select(
            "a.*"
        ).coalesce(1).write.mode("overwrite").parquet(d)
        part = next(f for f in os.listdir(d) if f.endswith(".parquet"))
        cp_name = f"{st.version:020d}.checkpoint.{_V2_UUID}.parquet"
        os.rename(os.path.join(d, part), os.path.join(log_dir, cp_name))
        import shutil as _sh

        _sh.rmtree(d, ignore_errors=True)
    with open(os.path.join(log_dir, "_last_checkpoint"), "w") as fh:
        json.dump({"version": st.version, "size": len(adds) + 2}, fh)
    for v in range(st.version + 1):
        os.remove(os.path.join(log_dir, f"{v:020d}.json"))
    return st


@pytest.mark.parametrize("layout", ["sidecar", "json"])
def test_v2_checkpoint_replay(spark, tmp_path, layout):
    """A v2 UUID-named checkpoint (parquet manifest + sidecar add files,
    or inline .json) whose pre-checkpoint commits were cleaned up
    replays correctly, including the minReaderVersion=3 +
    readerFeatures=[v2Checkpoint] protocol gate."""
    path = str(tmp_path / "t")
    write_delta_lite(_df(spark, [(1, "a"), (2, "b")]), path)
    write_delta_lite(_df(spark, [(3, "c")]), path, mode="append")
    _author_v2_checkpoint(spark, path, layout)
    assert {r.id for r in read_delta_lite(spark, path).collect()} == {1, 2, 3}


def test_v2_checkpoint_post_checkpoint_commits_apply(spark, tmp_path):
    """Commits AFTER the v2 checkpoint still replay on top of it.

    The commit is authored BY HAND: write_delta_lite itself now refuses
    minWriterVersion=7 tables (writer-compliance gate), so the
    post-checkpoint commit comes from a hypothetical compliant writer."""
    path = str(tmp_path / "t")
    write_delta_lite(_df(spark, [(1, "a")]), path)
    st = _author_v2_checkpoint(spark, path, "sidecar")
    stage = tmp_path / "stage"
    _df(spark, [(4, "d")]).coalesce(1).write.parquet(str(stage))
    part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
    os.rename(stage / part, os.path.join(path, "extra-0.parquet"))
    with open(
        os.path.join(path, "_delta_log", f"{st.version + 1:020d}.json"), "w"
    ) as fh:
        fh.write(json.dumps({"add": {
            "path": "extra-0.parquet", "partitionValues": {}, "size": 1,
            "modificationTime": 0, "dataChange": True,
        }}) + "\n")
    assert {r.id for r in read_delta_lite(spark, path).collect()} == {1, 4}
    # time travel to the checkpointed version still works
    assert {
        r.id for r in read_delta_lite(spark, path, version=st.version).collect()
    } == {1}


def test_v2_checkpoint_missing_sidecar_fails_loudly(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_lite(_df(spark, [(1, "a"), (2, "b")]), path)
    _author_v2_checkpoint(spark, path, "sidecar")
    side_dir = os.path.join(path, "_delta_log", "_sidecars")
    os.remove(os.path.join(side_dir, sorted(os.listdir(side_dir))[0]))
    with pytest.raises(ValueError, match="sidecar"):
        read_delta_lite(spark, path)


def test_vacuum_keeps_files_referenced_only_by_v2_checkpoint(spark, tmp_path):
    """vacuum's referenced-set scan must parse v2 checkpoints (manifest
    AND sidecars): after log cleanup they are the only reference to the
    active data files — missing them would delete live data."""
    from lcr_etl_upgrade_spark.delta_lite import vacuum

    path = str(tmp_path / "t")
    write_delta_lite(_df(spark, [(1, "a"), (2, "b")]), path)
    write_delta_lite(_df(spark, [(3, "c")]), path, mode="append")
    _author_v2_checkpoint(spark, path, "sidecar")
    removed = vacuum(spark, path)
    assert removed == []  # every data file is live, nothing to reap
    assert {r.id for r in read_delta_lite(spark, path).collect()} == {1, 2, 3}


def test_unsupported_reader_feature_still_refuses(spark, tmp_path):
    """minReaderVersion=3 is only admitted when EVERY readerFeature is
    supported — v2Checkpoint plus an unimplemented feature must refuse."""
    path = tmp_path / "t"
    (path / "_delta_log").mkdir(parents=True)
    with open(path / "_delta_log" / f"{0:020d}.json", "w") as fh:
        fh.write(json.dumps({"protocol": {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": ["v2Checkpoint", "someFutureFeature"],
        }}) + "\n")
    with pytest.raises(NotImplementedError, match="someFutureFeature"):
        read_delta_lite(spark, str(path))


def test_writer_refuses_high_writer_version_table(spark, tmp_path):
    """Reading v2Checkpoint tables must NOT blanket-open writes: a
    table demanding an UNIMPLEMENTED writerFeature still refuses. (r9:
    the v2Checkpoint feature itself became a supported writer feature
    when write_checkpoint gained the v2 layout, so THAT table now
    appends compliantly.)"""
    path = str(tmp_path / "t")
    write_delta_lite(_df(spark, [(1, "a")]), path)
    _author_v2_checkpoint(spark, path, "sidecar")
    # r9: v2Checkpoint is implemented -> the append succeeds now
    write_delta_lite(_df(spark, [(2, "b")]), path, mode="append")
    assert {r.id for r in read_delta_lite(spark, path).collect()} == {1, 2}

    # a feature this writer does NOT implement still refuses, named
    path2 = str(tmp_path / "u")
    write_delta_lite(_df(spark, [(1, "a")]), path2)
    with open(os.path.join(path2, "_delta_log", f"{1:020d}.json"),
              "w") as fh:
        fh.write(json.dumps({"protocol": {
            "minReaderVersion": 1, "minWriterVersion": 7,
            "writerFeatures": ["clustering"],
        }}) + "\n")
    # (identityColumns and rowTracking graduated to supported features
    # in round 10; clustering writes remain unimplemented)
    with pytest.raises(NotImplementedError, match="demands writerFeatures"):
        write_delta_lite(_df(spark, [(2, "b")]), path2, mode="append")
    assert {r.id for r in read_delta_lite(spark, path2).collect()} == {1}


def test_checkpoint_writer_handles_v2_and_refuses_unknown_features(
    spark, tmp_path
):
    """r9: a table listing the v2Checkpoint reader feature now
    checkpoints in the MANDATED v2 layout instead of refusing; the
    state-bearing refusal remains for writer features whose state the
    schema does not represent."""
    from lcr_etl_upgrade_spark.delta_lite import write_checkpoint

    path = str(tmp_path / "t")
    write_delta_lite(_df(spark, [(1, "a")]), path)
    _author_v2_checkpoint(spark, path, "json")
    v = write_checkpoint(spark, path)
    log = os.listdir(os.path.join(path, "_delta_log"))
    assert any(
        f.startswith(f"{v:020d}.checkpoint.") and f.endswith(".parquet")
        and len(f) > len(f"{v:020d}.checkpoint.parquet")
        for f in log
    ), log
    assert not any(f == f"{v:020d}.checkpoint.parquet" for f in log)
    assert {r.id for r in read_delta_lite(spark, path).collect()} == {1}

    path2 = str(tmp_path / "u")
    write_delta_lite(_df(spark, [(1, "a")]), path2)
    with open(os.path.join(path2, "_delta_log", f"{1:020d}.json"),
              "w") as fh:
        fh.write(json.dumps({"protocol": {
            "minReaderVersion": 1, "minWriterVersion": 7,
            "writerFeatures": ["icebergCompatV2"],
        }}) + "\n")
    with pytest.raises(NotImplementedError, match="icebergCompatV2"):
        write_checkpoint(spark, path2)


def test_checkpoint_discovered_without_last_checkpoint(spark, tmp_path):
    """_last_checkpoint is a protocol HINT: with it deleted (and the
    pre-checkpoint commits cleaned up) the checkpoint files must still
    be discovered by listing — classic single-part and v2 UUID-named."""
    from lcr_etl_upgrade_spark.delta_lite import write_checkpoint

    # classic single-part
    p1 = str(tmp_path / "classic")
    write_delta_lite(_df(spark, [(1, "a")]), p1)
    write_delta_lite(_df(spark, [(2, "b")]), p1, mode="append")
    v = write_checkpoint(spark, p1)
    log1 = os.path.join(p1, "_delta_log")
    os.remove(os.path.join(log1, "_last_checkpoint"))
    for i in range(v + 1):
        os.remove(os.path.join(log1, f"{i:020d}.json"))
    assert {r.id for r in read_delta_lite(spark, p1).collect()} == {1, 2}

    # v2 UUID-named
    p2 = str(tmp_path / "v2")
    write_delta_lite(_df(spark, [(3, "c"), (4, "d")]), p2)
    _author_v2_checkpoint(spark, p2, "json")
    os.remove(os.path.join(p2, "_delta_log", "_last_checkpoint"))
    assert {r.id for r in read_delta_lite(spark, p2).collect()} == {3, 4}


def test_stale_last_checkpoint_hint_falls_back_to_discovery(spark, tmp_path):
    """Time travel BELOW the hinted checkpoint version discovers an older
    complete checkpoint instead of demanding the cleaned-up commits."""
    from lcr_etl_upgrade_spark.delta_lite import write_checkpoint

    path = str(tmp_path / "t")
    write_delta_lite(_df(spark, [(1, "a")]), path)
    v0 = write_checkpoint(spark, path)  # checkpoint at version 0
    write_delta_lite(_df(spark, [(9, "z")]), path, mode="overwrite")
    v1 = write_checkpoint(spark, path)  # checkpoint at version 1 (hinted)
    log_dir = os.path.join(path, "_delta_log")
    os.remove(os.path.join(log_dir, f"{0:020d}.json"))  # clean commit 0
    # latest uses the hint...
    assert {r.id for r in read_delta_lite(spark, path).collect()} == {9}
    # ...and version 0 comes from the DISCOVERED older checkpoint, even
    # though its JSON commit is gone and the hint points at version 1
    assert {
        r.id for r in read_delta_lite(spark, path, version=v0).collect()
    } == {1}
    # an incomplete multi-part set must NOT be selected: fabricate part 1
    # of a claimed 2-part checkpoint at a bogus newer version
    open(
        os.path.join(
            log_dir, f"{5:020d}.checkpoint.{1:010d}.{2:010d}.parquet"
        ),
        "wb",
    ).close()
    assert {r.id for r in read_delta_lite(spark, path).collect()} == {9}


def test_stale_hint_with_deleted_files_falls_back(spark, tmp_path):
    """_last_checkpoint pointing at DELETED checkpoint files must fall
    back — to an older discovered checkpoint or to the JSON chain —
    instead of hard-failing on the stale hint."""
    from lcr_etl_upgrade_spark.delta_lite import write_checkpoint

    path = str(tmp_path / "t")
    write_delta_lite(_df(spark, [(1, "a")]), path)
    write_checkpoint(spark, path)  # checkpoint + hint at version 0
    write_delta_lite(_df(spark, [(2, "b")]), path, mode="append")
    v1 = write_checkpoint(spark, path)  # checkpoint + hint at version 1
    log_dir = os.path.join(path, "_delta_log")
    os.remove(os.path.join(log_dir, f"{v1:020d}.checkpoint.parquet"))
    # hint still says v1; its file is gone; v0 checkpoint + commit 1 remain
    assert {r.id for r in read_delta_lite(spark, path).collect()} == {1, 2}
    # with ALL checkpoints gone the JSON chain alone still reconstructs
    os.remove(os.path.join(log_dir, f"{0:020d}.checkpoint.parquet"))
    assert {r.id for r in read_delta_lite(spark, path).collect()} == {1, 2}


def test_corrupt_stray_checkpoint_does_not_break_intact_log(spark, tmp_path):
    """A garbage checkpoint file left by a crashed external writer must
    not break a table whose full JSON chain is intact (no hint case:
    discovery would otherwise select it)."""
    path = str(tmp_path / "t")
    write_delta_lite(_df(spark, [(1, "a")]), path)
    write_delta_lite(_df(spark, [(2, "b")]), path, mode="append")
    log_dir = os.path.join(path, "_delta_log")
    with open(os.path.join(log_dir, f"{1:020d}.checkpoint.parquet"), "wb") as fh:
        fh.write(b"not parquet at all")
    assert {r.id for r in read_delta_lite(spark, path).collect()} == {1, 2}


def test_append_retry_refuses_concurrent_protocol_upgrade(
    spark, tmp_path, monkeypatch
):
    """A racing commit that UPGRADES the protocol (e.g. delta-spark
    enabling writer features) must make the retried append refuse —
    the gate re-checks writer compliance on every retry."""
    import lcr_etl_upgrade_spark.delta_lite as dl

    path = str(tmp_path / "t")
    write_delta_lite(_df(spark, [(1, "a")]), path)
    stale = replay_log(spark, path)

    real_replay = dl.replay_log
    calls = {"n": 0}

    def racing_replay(*a, **k):
        calls["n"] += 1
        if calls["n"] == 1:
            # the racing writer lands version 1 — upgrading the protocol
            # — BEFORE our commit attempt, so our version-1 commit loses
            # the open('x') race and the retry path re-replays
            with open(
                os.path.join(path, "_delta_log", f"{1:020d}.json"), "w"
            ) as fh:
                fh.write(json.dumps({"protocol": {
                    "minReaderVersion": 1, "minWriterVersion": 7,
                    # r8: invariants became a SUPPORTED (enforced)
                    # feature (r10: rowTracking too), so race an
                    # upgrade to one that is not
                    "writerFeatures": ["clustering"],
                }}) + "\n")
            return stale
        return real_replay(*a, **k)

    monkeypatch.setattr(dl, "replay_log", racing_replay)
    with pytest.raises(NotImplementedError, match="demands writerFeatures"):
        dl.write_delta_lite(_df(spark, [(2, "b")]), path, mode="append")
    monkeypatch.undo()


# ---- column mapping (protocol v2 / columnMapping reader feature) --------


def _mapped_meta(part_cols=()):
    """metaData for a column-mapped table: logical (id, name, info) with
    physical names col-aaa / col-bbb / col-ccc; info is a struct whose
    nested field is mapped too."""
    fields = [
        {"name": "id", "type": "long", "nullable": True,
         "metadata": {"delta.columnMapping.id": 1,
                      "delta.columnMapping.physicalName": "col-aaa"}},
        {"name": "name", "type": "string", "nullable": True,
         "metadata": {"delta.columnMapping.id": 2,
                      "delta.columnMapping.physicalName": "col-bbb"}},
        {"name": "info", "nullable": True,
         "type": {"type": "struct", "fields": [
             {"name": "score", "type": "double", "nullable": True,
              "metadata": {"delta.columnMapping.id": 4,
                           "delta.columnMapping.physicalName": "col-ddd"}}]},
         "metadata": {"delta.columnMapping.id": 3,
                      "delta.columnMapping.physicalName": "col-ccc"}},
    ]
    return {
        "id": "0000", "format": {"provider": "parquet", "options": {}},
        "schemaString": json.dumps({"type": "struct", "fields": fields}),
        "partitionColumns": list(part_cols),
        "configuration": {"delta.columnMapping.mode": "name",
                          "delta.columnMapping.maxColumnId": "4"},
    }


def test_column_mapped_table_reads_logical_names(spark, tmp_path):
    """An externally-authored column-mapped table (physical parquet
    names col-aaa/col-bbb, nested col-ddd) reads back with LOGICAL
    column names and values, including the nested struct field."""
    path = tmp_path / "mapped"
    (path / "_delta_log").mkdir(parents=True)
    phys = spark.createDataFrame(
        [(1, "a", (0.5,)), (2, "b", (1.5,))],
        "`col-aaa` long, `col-bbb` string, "
        "`col-ccc` struct<`col-ddd`:double>",
    )
    sub = path / "stage"
    phys.coalesce(1).write.parquet(str(sub))
    f = next(n for n in os.listdir(sub) if n.endswith(".parquet"))
    os.rename(sub / f, path / "part-0.parquet")
    with open(path / "_delta_log" / f"{0:020d}.json", "w") as fh:
        fh.write(json.dumps({"protocol": {
            "minReaderVersion": 2, "minWriterVersion": 5}}) + "\n")
        fh.write(json.dumps({"metaData": _mapped_meta()}) + "\n")
        fh.write(json.dumps({"add": {
            "path": "part-0.parquet", "partitionValues": {}, "size": 1,
            "modificationTime": 0, "dataChange": True}}) + "\n")
    got = read_delta_lite(spark, str(path))
    assert [f.name for f in got.schema.fields] == ["id", "name", "info"]
    assert got.schema["info"].dataType.fieldNames() == ["score"]
    rows = {r.id: r for r in got.collect()}
    assert rows[1].name == "a" and rows[1].info.score == 0.5
    assert rows[2].info.score == 1.5
    # legacy writer version 5 (cumulative: columnMapping + generated +
    # CDF + constraints tiers, all implemented round 10) is WRITABLE
    # now: a schema-matching append lands under the PHYSICAL names and
    # reads back logically; v6 (identityColumns) still refuses
    write_delta_lite(
        spark.createDataFrame(
            [(3, "c", (2.5,))],
            "id long, name string, info struct<score:double>",
        ),
        str(path),
        mode="append",
    )
    back = {r.id: r for r in read_delta_lite(spark, str(path)).collect()}
    assert back[3].name == "c" and back[3].info.score == 2.5
    # an unknown FUTURE legacy version still refuses (6 = identity
    # columns is the last defined tier, implemented round 10)
    with open(path / "_delta_log" / f"{2:020d}.json", "w") as fh:
        fh.write(json.dumps({"protocol": {
            "minReaderVersion": 2, "minWriterVersion": 8}}) + "\n")
    with pytest.raises(NotImplementedError, match="minWriterVersion=8"):
        write_delta_lite(
            spark.createDataFrame(
                [(4, "d", (3.5,))],
                "id long, name string, info struct<score:double>",
            ),
            str(path),
            mode="append",
        )


def test_column_mapped_partitioned_hive_layout(spark, tmp_path):
    """Partitioned + column-mapped: hive path segments and the log's
    partitionValues keys use the PHYSICAL name; output is logical."""
    path = tmp_path / "mappedpart"
    (path / "_delta_log").mkdir(parents=True)
    meta = {
        "id": "0000", "format": {"provider": "parquet", "options": {}},
        "schemaString": json.dumps({"type": "struct", "fields": [
            {"name": "id", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.id": 1,
                          "delta.columnMapping.physicalName": "col-aaa"}},
            {"name": "part", "type": "integer", "nullable": True,
             "metadata": {"delta.columnMapping.id": 2,
                          "delta.columnMapping.physicalName": "col-ppp"}},
        ]}),
        "partitionColumns": ["part"],
        "configuration": {"delta.columnMapping.mode": "name"},
    }
    adds = []
    for pv in (1, 2):
        sub = path / f"stage{pv}"
        spark.createDataFrame(
            [(10 * pv,), (10 * pv + 1,)], "`col-aaa` long"
        ).coalesce(1).write.parquet(str(sub))
        f = next(n for n in os.listdir(sub) if n.endswith(".parquet"))
        (path / f"col-ppp={pv}").mkdir()
        rel = f"col-ppp={pv}/part-0.parquet"
        os.rename(sub / f, path / rel)
        adds.append((rel, {"col-ppp": str(pv)}))
    with open(path / "_delta_log" / f"{0:020d}.json", "w") as fh:
        fh.write(json.dumps({"protocol": {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": ["columnMapping"],
            "writerFeatures": ["columnMapping"]}}) + "\n")
        fh.write(json.dumps({"metaData": meta}) + "\n")
        for rel, pvals in adds:
            fh.write(json.dumps({"add": {
                "path": rel, "partitionValues": pvals, "size": 1,
                "modificationTime": 0, "dataChange": True}}) + "\n")
    got = read_delta_lite(spark, str(path))
    assert dict(got.dtypes) == {"id": "bigint", "part": "int"}
    assert {(r.id, r.part) for r in got.collect()} == {
        (10, 1), (11, 1), (20, 2), (21, 2)}
    # single-relation fast path holds for the mapped hive layout
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan


def test_unknown_column_mapping_mode_refuses(spark, tmp_path):
    path = tmp_path / "m"
    (path / "_delta_log").mkdir(parents=True)
    meta = _mapped_meta()
    meta["configuration"]["delta.columnMapping.mode"] = "weird"
    with open(path / "_delta_log" / f"{0:020d}.json", "w") as fh:
        fh.write(json.dumps({"protocol": {
            "minReaderVersion": 2, "minWriterVersion": 5}}) + "\n")
        fh.write(json.dumps({"metaData": meta}) + "\n")
        fh.write(json.dumps({"add": {
            "path": "part-0.parquet", "partitionValues": {}, "size": 1,
            "modificationTime": 0, "dataChange": True}}) + "\n")
    with pytest.raises(NotImplementedError, match="columnMapping.mode"):
        read_delta_lite(spark, str(path))


def test_timestamp_ntz_reader_feature_admitted(spark, tmp_path):
    """A v3 table whose only readerFeature is timestampNtz reads — the
    type flows through StructType.fromJson and the parquet reader."""
    import datetime as dtm

    path = tmp_path / "ntz"
    (path / "_delta_log").mkdir(parents=True)
    sub = path / "stage"
    spark.createDataFrame(
        [(1, dtm.datetime(2024, 6, 1, 12, 0, 0))],
        "id long, ts timestamp_ntz",
    ).coalesce(1).write.parquet(str(sub))
    f = next(n for n in os.listdir(sub) if n.endswith(".parquet"))
    os.rename(sub / f, path / "part-0.parquet")
    meta = {
        "id": "0000", "format": {"provider": "parquet", "options": {}},
        "schemaString": json.dumps({"type": "struct", "fields": [
            {"name": "id", "type": "long", "nullable": True, "metadata": {}},
            {"name": "ts", "type": "timestamp_ntz", "nullable": True,
             "metadata": {}}]}),
        "partitionColumns": [], "configuration": {},
    }
    with open(path / "_delta_log" / f"{0:020d}.json", "w") as fh:
        fh.write(json.dumps({"protocol": {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": ["timestampNtz"],
            "writerFeatures": ["timestampNtz"]}}) + "\n")
        fh.write(json.dumps({"metaData": meta}) + "\n")
        fh.write(json.dumps({"add": {
            "path": "part-0.parquet", "partitionValues": {}, "size": 1,
            "modificationTime": 0, "dataChange": True}}) + "\n")
    got = read_delta_lite(spark, str(path))
    assert dict(got.dtypes)["ts"] == "timestamp_ntz"
    assert got.collect()[0].ts == dtm.datetime(2024, 6, 1, 12, 0, 0)


def test_column_mapping_id_mode_and_physical_name_verification(
    spark, tmp_path
):
    """Mode 'id' reads when the files carry physicalName-named columns
    (what delta-spark writes); a foreign id-mode table whose parquet
    names DIFFER from physicalName refuses loudly instead of returning
    silent all-NULL columns."""
    def build(table, parquet_cols):
        path = tmp_path / table
        (path / "_delta_log").mkdir(parents=True)
        sub = path / "stage"
        spark.createDataFrame([(1, "a")], parquet_cols).coalesce(
            1
        ).write.parquet(str(sub))
        f = next(n for n in os.listdir(sub) if n.endswith(".parquet"))
        os.rename(sub / f, path / "part-0.parquet")
        meta = {
            "id": "0000", "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps({"type": "struct", "fields": [
                {"name": "id", "type": "long", "nullable": True,
                 "metadata": {"delta.columnMapping.id": 1,
                              "delta.columnMapping.physicalName": "col-aaa"}},
                {"name": "name", "type": "string", "nullable": True,
                 "metadata": {"delta.columnMapping.id": 2,
                              "delta.columnMapping.physicalName": "col-bbb"}},
            ]}),
            "partitionColumns": [],
            "configuration": {"delta.columnMapping.mode": "id"},
        }
        with open(path / "_delta_log" / f"{0:020d}.json", "w") as fh:
            fh.write(json.dumps({"protocol": {
                "minReaderVersion": 2, "minWriterVersion": 5}}) + "\n")
            fh.write(json.dumps({"metaData": meta}) + "\n")
            fh.write(json.dumps({"add": {
                "path": "part-0.parquet", "partitionValues": {}, "size": 1,
                "modificationTime": 0, "dataChange": True}}) + "\n")
        return str(path)

    ok = build("idmode", "`col-aaa` long, `col-bbb` string")
    got = read_delta_lite(spark, ok)
    assert {(r.id, r.name) for r in got.collect()} == {(1, "a")}

    foreign = build("idforeign", "`c1` long, `c2` string")
    with pytest.raises(NotImplementedError, match="field-id"):
        read_delta_lite(spark, foreign)


def test_column_mapping_missing_physical_name_refuses(spark, tmp_path):
    """Mapping enabled but a field lacks physicalName metadata: raise on
    the corrupt log instead of reading silent NULLs."""
    path = tmp_path / "m"
    (path / "_delta_log").mkdir(parents=True)
    meta = {
        "id": "0000", "format": {"provider": "parquet", "options": {}},
        "schemaString": json.dumps({"type": "struct", "fields": [
            {"name": "id", "type": "long", "nullable": True,
             "metadata": {}}]}),
        "partitionColumns": [],
        "configuration": {"delta.columnMapping.mode": "name"},
    }
    with open(path / "_delta_log" / f"{0:020d}.json", "w") as fh:
        fh.write(json.dumps({"protocol": {
            "minReaderVersion": 2, "minWriterVersion": 5}}) + "\n")
        fh.write(json.dumps({"metaData": meta}) + "\n")
        fh.write(json.dumps({"add": {
            "path": "part-0.parquet", "partitionValues": {}, "size": 1,
            "modificationTime": 0, "dataChange": True}}) + "\n")
    with pytest.raises(ValueError, match="physicalName"):
        read_delta_lite(spark, str(path))


def test_variant_type_reader_feature(spark, tmp_path):
    """A v3 table whose readerFeature is variantType reads through
    Spark's native VariantType (schemaString 'variant' -> parquet
    struct<metadata,value> physical encoding)."""
    path = tmp_path / "var"
    (path / "_delta_log").mkdir(parents=True)
    sub = path / "stage"
    src = spark.range(3).selectExpr(
        "id", "parse_json(concat('{\"a\":', id, '}')) as v"
    )
    src.coalesce(1).write.parquet(str(sub))
    f = next(n for n in os.listdir(sub) if n.endswith(".parquet"))
    os.rename(sub / f, path / "part-0.parquet")
    meta = {
        "id": "0000", "format": {"provider": "parquet", "options": {}},
        "schemaString": json.dumps({"type": "struct", "fields": [
            {"name": "id", "type": "long", "nullable": True, "metadata": {}},
            {"name": "v", "type": "variant", "nullable": True,
             "metadata": {}}]}),
        "partitionColumns": [], "configuration": {},
    }
    with open(path / "_delta_log" / f"{0:020d}.json", "w") as fh:
        fh.write(json.dumps({"protocol": {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": ["variantType"],
            "writerFeatures": ["variantType"]}}) + "\n")
        fh.write(json.dumps({"metaData": meta}) + "\n")
        fh.write(json.dumps({"add": {
            "path": "part-0.parquet", "partitionValues": {}, "size": 1,
            "modificationTime": 0, "dataChange": True}}) + "\n")
    got = read_delta_lite(spark, str(path))
    assert dict(got.dtypes)["v"] == "variant"
    vals = {
        r.id: r.a
        for r in got.selectExpr(
            "id", "try_variant_get(v, '$.a', 'int') as a"
        ).collect()
    }
    assert vals == {0: 0, 1: 1, 2: 2}


def test_type_widening_reader_feature(spark, tmp_path):
    """typeWidening: old files carry NARROW physical types, metaData
    declares the widened ones — the plain schema-first read upcasts
    (int->long, float->double, int->decimal, date->timestamp_ntz)."""
    path = tmp_path / "tw"
    (path / "_delta_log").mkdir(parents=True)
    sub = path / "stage"
    spark.range(3).selectExpr(
        "cast(id as int) as a",
        "cast(id as float) as b",
        "cast(id as int) as c",
        "date'2024-06-01' as d",
    ).coalesce(1).write.parquet(str(sub))
    f = next(n for n in os.listdir(sub) if n.endswith(".parquet"))
    os.rename(sub / f, path / "part-0.parquet")
    meta = {
        "id": "0000", "format": {"provider": "parquet", "options": {}},
        "schemaString": json.dumps({"type": "struct", "fields": [
            {"name": "a", "type": "long", "nullable": True, "metadata": {}},
            {"name": "b", "type": "double", "nullable": True, "metadata": {}},
            {"name": "c", "type": "decimal(10,0)", "nullable": True,
             "metadata": {}},
            {"name": "d", "type": "timestamp_ntz", "nullable": True,
             "metadata": {}}]}),
        "partitionColumns": [], "configuration": {},
    }
    with open(path / "_delta_log" / f"{0:020d}.json", "w") as fh:
        fh.write(json.dumps({"protocol": {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": ["typeWidening"],
            "writerFeatures": ["typeWidening"]}}) + "\n")
        fh.write(json.dumps({"metaData": meta}) + "\n")
        fh.write(json.dumps({"add": {
            "path": "part-0.parquet", "partitionValues": {}, "size": 1,
            "modificationTime": 0, "dataChange": True}}) + "\n")
    got = read_delta_lite(spark, str(path))
    assert dict(got.dtypes) == {
        "a": "bigint", "b": "double", "c": "decimal(10,0)",
        "d": "timestamp_ntz",
    }
    import datetime as dtm
    import decimal

    row = {r.a: r for r in got.collect()}[2]
    assert row.b == 2.0 and row.c == decimal.Decimal("2")
    assert row.d == dtm.datetime(2024, 6, 1, 0, 0)


# ---- column mapping WRITE side (round-8 ask #5) --------------------------


def _mapped_log_state(path):
    import lcr_etl_upgrade_spark.delta_lite as dl

    log_dir = os.path.join(path, "_delta_log")
    actions = []
    for f in sorted(os.listdir(log_dir)):
        if re.fullmatch(r"\d{20}\.json", f):
            with open(os.path.join(log_dir, f)) as fh:
                actions += [json.loads(ln) for ln in fh if ln.strip()]
    return actions


def test_write_column_mapping_name_roundtrip(spark, tmp_path):
    """write(column_mapping='name') -> read equals input; parquet files
    carry GENERATED physical names, the log carries logical names with
    id/physicalName metadata and mode+maxColumnId configuration, and the
    protocol is 3/7 with the columnMapping feature both sides."""
    import lcr_etl_upgrade_spark.delta_lite as dl

    path = str(tmp_path / "t")
    write_delta_lite(
        _df(spark, [(1, "a"), (2, "b")]), path, column_mapping="name"
    )
    got = read_delta_lite(spark, path)
    assert got.columns == ["id", "name"]
    assert {(r.id, r.name) for r in got.collect()} == {(1, "a"), (2, "b")}

    state = replay_log(spark, path)
    assert state.protocol["minReaderVersion"] == 3
    assert state.protocol["minWriterVersion"] == 7
    assert state.protocol["readerFeatures"] == ["columnMapping"]
    assert state.protocol["writerFeatures"] == ["columnMapping"]
    conf = state.metadata["configuration"]
    assert conf["delta.columnMapping.mode"] == "name"
    assert conf["delta.columnMapping.maxColumnId"] == "2"
    metas = [f.metadata for f in state.schema.fields]
    assert [m["delta.columnMapping.id"] for m in metas] == [1, 2]
    phys = [m["delta.columnMapping.physicalName"] for m in metas]
    assert all(p.startswith("col-") for p in phys)

    # the parquet files really carry the physical names, not logical
    data_file = next(
        os.path.join(path, f) for f in state.files
    )
    raw_cols = spark.read.parquet(data_file).columns
    assert sorted(raw_cols) == sorted(phys)


def test_write_column_mapping_id_stamps_field_ids(spark, tmp_path):
    """id mode: parquet footers carry field ids matching the log's
    delta.columnMapping.id (verified through pyarrow, an independently
    authored parquet reader)."""
    import pyarrow.parquet as pq

    path = str(tmp_path / "t")
    write_delta_lite(
        _df(spark, [(1, "a")]), path, column_mapping="id"
    )
    state = replay_log(spark, path)
    data_file = os.path.join(path, next(iter(state.files)))
    arrow_schema = pq.read_schema(data_file)
    by_phys = {
        f.metadata["delta.columnMapping.physicalName"]: f.metadata[
            "delta.columnMapping.id"
        ]
        for f in state.schema.fields
    }
    for field in arrow_schema:
        fid = int(field.metadata[b"PARQUET:field_id"])
        assert fid == by_phys[field.name]
    got = read_delta_lite(spark, path)
    assert [r.id for r in got.collect()] == [1]


def test_write_column_mapping_append_and_stability(spark, tmp_path):
    """Appends inherit the mapping (no column_mapping arg needed) and an
    overwrite REUSES the physical names and ids of surviving logical
    columns, assigning fresh ids above maxColumnId to new ones — the
    protocol's stability rule."""
    path = str(tmp_path / "t")
    write_delta_lite(_df(spark, [(1, "a")]), path, column_mapping="name")
    before = {
        f.name: f.metadata for f in replay_log(spark, path).schema.fields
    }

    write_delta_lite(_df(spark, [(2, "b")]), path, mode="append")
    got = read_delta_lite(spark, path)
    assert {(r.id, r.name) for r in got.collect()} == {(1, "a"), (2, "b")}

    # overwrite with one surviving column and one new column
    df2 = spark.createDataFrame([(3, 1.5)], "id long, score double")
    write_delta_lite(df2, path, mode="overwrite")
    state = replay_log(spark, path)
    after = {f.name: f.metadata for f in state.schema.fields}
    assert after["id"] == before["id"]  # stable across overwrite
    assert after["score"]["delta.columnMapping.id"] == 3  # fresh, above max
    assert state.metadata["configuration"][
        "delta.columnMapping.maxColumnId"
    ] == "3"
    assert {(r.id, r.score) for r in read_delta_lite(spark, path).collect()
            } == {(3, 1.5)}


def test_write_column_mapping_partitioned(spark, tmp_path):
    """Partitioned mapped table: hive dirs and partitionValues keys use
    the PHYSICAL name, metaData.partitionColumns the logical name; the
    reader's single-relation fast path round-trips it."""
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "x", 10), (2, "y", 20), (3, "x", 30)],
        "id long, part string, v long",
    )
    write_delta_lite(df, path, partition_by=("part",),
                     column_mapping="name")
    state = replay_log(spark, path)
    assert state.partition_columns == ["part"]  # logical in metaData
    phys_part = {
        f.metadata["delta.columnMapping.physicalName"]
        for f in state.schema.fields if f.name == "part"
    }.pop()
    for rel, pvals in state.files.items():
        assert rel.startswith(f"{phys_part}=")  # physical hive segment
        assert set(pvals) == {phys_part}  # physical partitionValues key
    got = read_delta_lite(spark, path)
    assert {(r.id, r.part, r.v) for r in got.collect()} == {
        (1, "x", 10), (2, "y", 20), (3, "x", 30)
    }
    # partition pruning still sees a filterable logical column
    assert got.filter(F.col("part") == "x").count() == 2


def test_write_column_mapping_nested_struct(spark, tmp_path):
    """Nested struct fields get their own ids/physical names at every
    level and round-trip through the positional struct cast."""
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, ("deep", 7))],
        "id long, s struct<a string, b long>",
    )
    write_delta_lite(df, path, column_mapping="name")
    state = replay_log(spark, path)
    s_field = {f.name: f for f in state.schema.fields}["s"]
    inner = {f.name: f for f in s_field.dataType.fields}
    ids = {
        state.schema["id"].metadata["delta.columnMapping.id"],
        s_field.metadata["delta.columnMapping.id"],
        inner["a"].metadata["delta.columnMapping.id"],
        inner["b"].metadata["delta.columnMapping.id"],
    }
    assert ids == {1, 2, 3, 4}  # unique ids at every level
    assert all(
        f.metadata["delta.columnMapping.physicalName"].startswith("col-")
        for f in (s_field, inner["a"], inner["b"])
    )
    row = read_delta_lite(spark, path).collect()[0]
    assert (row.id, row.s.a, row.s.b) == (1, "deep", 7)


def test_write_column_mapping_mode_changes_refuse(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_lite(_df(spark, [(1, "a")]), path, column_mapping="name")
    with pytest.raises(ValueError, match="protocol-forbidden"):
        write_delta_lite(_df(spark, [(2, "b")]), path, column_mapping="id")
    with pytest.raises(ValueError, match="column_mapping must be"):
        write_delta_lite(_df(spark, [(2, "b")]), path,
                         column_mapping="weird")
    # enabling mapping via append on an unmapped table refuses too
    path2 = str(tmp_path / "u")
    write_delta_lite(_df(spark, [(1, "a")]), path2)
    with pytest.raises(ValueError, match="overwrite"):
        write_delta_lite(_df(spark, [(2, "b")]), path2, mode="append",
                         column_mapping="name")


def test_write_column_mapping_upgrade_on_overwrite(spark, tmp_path):
    """Enabling mapping on an existing unmapped table upgrades the
    protocol in the SAME commit and old logical data stays readable via
    time travel."""
    path = str(tmp_path / "t")
    write_delta_lite(_df(spark, [(1, "a")]), path)
    assert replay_log(spark, path).protocol["minReaderVersion"] == 1
    write_delta_lite(_df(spark, [(2, "b")]), path, column_mapping="name")
    state = replay_log(spark, path)
    assert state.protocol["minReaderVersion"] == 3
    assert {r.id for r in read_delta_lite(spark, path).collect()} == {2}
    # pre-upgrade version still readable (protocol replay at version 0)
    assert {r.id for r in read_delta_lite(spark, path, version=0)
            .collect()} == {1}


def test_column_mapping_max_id_monotonic_across_drops(spark, tmp_path):
    """r8 review finding: a column dropped by an overwrite keeps its id
    reserved — maxColumnId never decreases and later columns never reuse
    a dropped column's id (the protocol's monotonic-id rule; reuse would
    make id-tracking readers silently read new data as the old column)."""
    path = str(tmp_path / "t")
    write_delta_lite(_df(spark, [(1, "a")]), path, column_mapping="name")
    # drop 'name' (id 2) via overwrite to a single-column schema
    write_delta_lite(
        spark.createDataFrame([(2,)], "id long"), path, mode="overwrite"
    )
    state = replay_log(spark, path)
    assert state.metadata["configuration"][
        "delta.columnMapping.maxColumnId"
    ] == "2"  # not decreased to 1
    # re-add a column: must draw id 3, never the dropped 'name' id 2
    write_delta_lite(
        spark.createDataFrame([(3, 1.5)], "id long, score double"),
        path, mode="overwrite",
    )
    state = replay_log(spark, path)
    by_name = {f.name: f.metadata for f in state.schema.fields}
    assert by_name["score"]["delta.columnMapping.id"] == 3
    assert state.metadata["configuration"][
        "delta.columnMapping.maxColumnId"
    ] == "3"


def test_append_type_mismatch_refuses_not_nulls(spark, tmp_path):
    """r8 review finding: a wrong-typed append must refuse up front; on
    a mapped table the physicalizing cast would otherwise turn the
    mismatch into silent NULL data."""
    for cm in (None, "name"):
        path = str(tmp_path / f"t_{cm}")
        write_delta_lite(
            spark.createDataFrame([(1, 10)], "id long, v long"),
            path, column_mapping=cm,
        )
        bad = spark.createDataFrame([(2, "abc")], "id long, v string")
        with pytest.raises(ValueError, match="append type mismatch"):
            write_delta_lite(bad, path, mode="append")
        # table unchanged
        assert {r.v for r in read_delta_lite(spark, path).collect()} == {10}


def test_append_retry_refuses_racing_mapping_enable(
    spark, tmp_path, monkeypatch
):
    """r8 review finding: a racing overwrite that ENABLES column mapping
    keeps the same logical schema, so the old name/type gate passed and
    the retried append committed logically-named files into a
    physically-named table — rendering it unreadable. The gate must
    compare mapping state too."""
    import lcr_etl_upgrade_spark.delta_lite as dl

    path = str(tmp_path / "t")
    write_delta_lite(_df(spark, [(1, "a")]), path)
    stale = replay_log(spark, path)

    real_replay = dl.replay_log
    calls = {"n": 0}

    def racing_replay(*a, **k):
        calls["n"] += 1
        if calls["n"] == 1:
            # the racing writer lands version 1: SAME logical schema,
            # but mapped
            dl.write_delta_lite(
                _df(spark, [(9, "z")]), path, column_mapping="name"
            )
            return stale
        return real_replay(*a, **k)

    monkeypatch.setattr(dl, "replay_log", racing_replay)
    with pytest.raises(FileExistsError, match="column mapping"):
        dl.write_delta_lite(_df(spark, [(2, "b")]), path, mode="append")
    monkeypatch.undo()
    # the table stays fully readable (no logically-named orphan commit)
    assert {r.id for r in read_delta_lite(spark, path).collect()} == {9}


# ---- deletion-vector WRITES: delete_rows (round 8) -----------------------


def test_delete_rows_basic_inline(spark, tmp_path):
    """DELETE WHERE via inline ('i') deletion vectors: matching rows
    vanish from reads, no parquet file is rewritten, time travel shows
    the pre-delete state, and the protocol upgrades to 3/7 with the
    deletionVectors feature."""
    from lcr_etl_upgrade_spark.delta_lite import delete_rows

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, f"n{i}") for i in range(10)], "id long, name string"
    )
    write_delta_lite(df, path)
    before_files = set(replay_log(spark, path).files)

    v = delete_rows(spark, path, "id < 3")
    assert v == 1
    state = replay_log(spark, path)
    assert set(state.files) == before_files  # same parquet files
    assert state.dvs  # descriptors present
    assert all(d["storageType"] == "i" for d in state.dvs.values())
    assert state.protocol["minReaderVersion"] == 3
    assert "deletionVectors" in state.protocol["readerFeatures"]
    assert "deletionVectors" in state.protocol["writerFeatures"]

    got = {r.id for r in read_delta_lite(spark, path).collect()}
    assert got == set(range(3, 10))
    # time travel to the pre-delete version
    v0 = {r.id for r in read_delta_lite(spark, path, version=0).collect()}
    assert v0 == set(range(10))


def test_delete_rows_union_with_existing_dv(spark, tmp_path):
    """A second delete UNIONS positions with the file's existing DV (the
    protocol's re-add-replaces-DV rule) — earlier deletions survive."""
    from lcr_etl_upgrade_spark.delta_lite import delete_rows

    path = str(tmp_path / "t")
    write_delta_lite(
        spark.createDataFrame([(i,) for i in range(10)], "id long"), path
    )
    delete_rows(spark, path, "id < 3")
    delete_rows(spark, path, "id = 7")
    got = {r.id for r in read_delta_lite(spark, path).collect()}
    assert got == {3, 4, 5, 6, 8, 9}
    # deleting already-deleted rows is a no-op that keeps them deleted
    delete_rows(spark, path, "id < 4")
    got = {r.id for r in read_delta_lite(spark, path).collect()}
    assert got == {4, 5, 6, 8, 9}


def test_delete_rows_file_storage(spark, tmp_path):
    """inline_threshold=0 forces 'u' storage: a UUID-named .bin lands at
    the table root with the version/size/CRC framing the reader
    verifies, and the read round-trips."""
    import os as _os

    from lcr_etl_upgrade_spark.delta_lite import delete_rows

    path = str(tmp_path / "t")
    write_delta_lite(
        spark.createDataFrame([(i,) for i in range(100)], "id long"), path
    )
    delete_rows(spark, path, "id % 2 = 0", inline_threshold=0)
    state = replay_log(spark, path)
    descs = list(state.dvs.values())
    assert descs and all(d["storageType"] == "u" for d in descs)
    bins = [f for f in _os.listdir(path)
            if f.startswith("deletion_vector_") and f.endswith(".bin")]
    assert bins  # the staged file exists
    got = {r.id for r in read_delta_lite(spark, path).collect()}
    assert got == {i for i in range(100) if i % 2 == 1}


def test_delete_rows_partitioned_and_mapped(spark, tmp_path):
    """Deletes compose with hive-partitioned layout and with column
    mapping (predicate over LOGICAL names; positions per physical
    file)."""
    from lcr_etl_upgrade_spark.delta_lite import delete_rows

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, "x" if i % 2 == 0 else "y", i * 10) for i in range(10)],
        "id long, part string, v long",
    )
    write_delta_lite(df, path, partition_by=("part",),
                     column_mapping="name")
    delete_rows(spark, path, (F.col("part") == "x") & (F.col("v") >= 40))
    got = {(r.id, r.part) for r in read_delta_lite(spark, path).collect()}
    assert got == {(i, "x" if i % 2 == 0 else "y") for i in range(10)
                   if not (i % 2 == 0 and i * 10 >= 40)}
    state = replay_log(spark, path)
    feats = set(state.protocol["readerFeatures"])
    assert {"columnMapping", "deletionVectors"} <= feats


def test_delete_rows_no_match_no_commit(spark, tmp_path):
    from lcr_etl_upgrade_spark.delta_lite import delete_rows

    path = str(tmp_path / "t")
    write_delta_lite(
        spark.createDataFrame([(1,)], "id long"), path
    )
    assert delete_rows(spark, path, "id > 100") == 0  # version unchanged
    assert replay_log(spark, path).version == 0


def test_overwrite_retires_dv_bearing_files(spark, tmp_path):
    """r8: log replay only retires a file when the remove's DV identity
    matches — overwrite's removes must echo the tracked descriptor or
    DV-bearing files survive the overwrite and resurrect rows."""
    from lcr_etl_upgrade_spark.delta_lite import delete_rows

    path = str(tmp_path / "t")
    write_delta_lite(
        spark.createDataFrame([(i,) for i in range(6)], "id long"), path
    )
    delete_rows(spark, path, "id < 2")
    write_delta_lite(
        spark.createDataFrame([(100,)], "id long"), path, mode="overwrite"
    )
    state = replay_log(spark, path)
    got = {r.id for r in read_delta_lite(spark, path).collect()}
    assert got == {100}
    assert not state.dvs  # old descriptors retired with their files


def test_append_to_dv_table_keeps_deletions(spark, tmp_path):
    from lcr_etl_upgrade_spark.delta_lite import delete_rows

    path = str(tmp_path / "t")
    write_delta_lite(
        spark.createDataFrame([(i,) for i in range(5)], "id long"), path
    )
    delete_rows(spark, path, "id = 0")
    write_delta_lite(
        spark.createDataFrame([(50,)], "id long"), path, mode="append"
    )
    got = {r.id for r in read_delta_lite(spark, path).collect()}
    assert got == {1, 2, 3, 4, 50}


def test_feature_aware_checkpoint_roundtrips_dv_table(spark, tmp_path):
    """r8: classic checkpoints carry readerFeatures/writerFeatures and
    add.deletionVector, so a 3/7 DV table checkpoints and replays
    losslessly FROM the checkpoint (pre-checkpoint commits deleted)."""
    import os as _os

    from lcr_etl_upgrade_spark.delta_lite import (
        delete_rows,
        write_checkpoint,
    )

    path = str(tmp_path / "t")
    write_delta_lite(
        spark.createDataFrame([(i,) for i in range(10)], "id long"), path
    )
    delete_rows(spark, path, "id < 3")          # v1, inline DV
    delete_rows(spark, path, "id = 9", inline_threshold=0)  # v2, file DV
    v = write_checkpoint(spark, path)
    assert v == 2
    # wipe the pre-checkpoint commits: replay can ONLY come from the
    # checkpoint now (the protocol's log-cleanup contract)
    log_dir = _os.path.join(path, "_delta_log")
    for f in list(_os.listdir(log_dir)):
        if f.endswith(".json") and not f.startswith("_"):
            if int(f.split(".")[0]) <= 2:
                _os.remove(_os.path.join(log_dir, f))
    state = replay_log(spark, path)
    assert state.version == 2
    assert "deletionVectors" in state.protocol["readerFeatures"]
    assert len(state.dvs) >= 1
    got = {r.id for r in read_delta_lite(spark, path).collect()}
    assert got == {3, 4, 5, 6, 7, 8}
    # deletes keep composing AFTER the checkpoint (union with the
    # checkpoint-carried DVs)
    delete_rows(spark, path, "id = 3")
    got = {r.id for r in read_delta_lite(spark, path).collect()}
    assert got == {4, 5, 6, 7, 8}


def test_feature_aware_checkpoint_mapped_table(spark, tmp_path):
    """Checkpoint of a column-mapped table preserves the feature lists
    and the mapped metadata; replay-from-checkpoint reads logically."""
    import os as _os

    from lcr_etl_upgrade_spark.delta_lite import write_checkpoint

    path = str(tmp_path / "t")
    write_delta_lite(
        _df(spark, [(1, "a"), (2, "b")]), path, column_mapping="name"
    )
    v = write_checkpoint(spark, path)
    assert v == 0
    log_dir = _os.path.join(path, "_delta_log")
    _os.remove(_os.path.join(log_dir, f"{0:020d}.json"))
    state = replay_log(spark, path)
    assert state.protocol["readerFeatures"] == ["columnMapping"]
    assert state.metadata["configuration"][
        "delta.columnMapping.mode"
    ] == "name"
    got = {(r.id, r.name) for r in read_delta_lite(spark, path).collect()}
    assert got == {(1, "a"), (2, "b")}


def test_append_only_table_refuses_non_appends(spark, tmp_path):
    """r8 review: delta.appendOnly=true forbids overwrite AND delete;
    appends keep working. (The enforcement that makes listing the
    appendOnly writer feature honest.)"""
    import lcr_etl_upgrade_spark.delta_lite as dl

    path = str(tmp_path / "t")
    write_delta_lite(_df(spark, [(1, "a")]), path)
    # flip the config by hand (our writer doesn't expose table props)
    log = os.path.join(path, "_delta_log", f"{1:020d}.json")
    state = replay_log(spark, path)
    meta = dict(state.metadata)
    meta["configuration"] = {"delta.appendOnly": "true"}
    with open(log, "w") as fh:
        fh.write(json.dumps({"metaData": meta}) + "\n")

    write_delta_lite(_df(spark, [(2, "b")]), path, mode="append")  # fine
    with pytest.raises(ValueError, match="appendOnly"):
        write_delta_lite(_df(spark, [(9, "z")]), path, mode="overwrite")
    with pytest.raises(ValueError, match="appendOnly"):
        dl.delete_rows(spark, path, "id = 1")
    assert {r.id for r in read_delta_lite(spark, path).collect()} == {1, 2}


def test_invariants_enforced_on_appends_deletes_untouched(spark, tmp_path):
    """r8 review originally made invariant-bearing appends REFUSE; round
    10 upgraded the refusal to ENFORCEMENT: rows satisfying the
    expression append fine, a violating row unstages and raises, and
    deletes still work (removing rows cannot violate an invariant)."""
    import lcr_etl_upgrade_spark.delta_lite as dl

    path = str(tmp_path / "t")
    write_delta_lite(_df(spark, [(1, "a"), (2, "b")]), path)
    state = replay_log(spark, path)
    schema_json = json.loads(state.metadata["schemaString"])
    schema_json["fields"][0]["metadata"] = {
        "delta.invariants": '{"expression":{"expression":"id > 0"}}'
    }
    meta = dict(state.metadata)
    meta["schemaString"] = json.dumps(schema_json)
    with open(os.path.join(path, "_delta_log", f"{1:020d}.json"), "w") as fh:
        fh.write(json.dumps({"metaData": meta}) + "\n")

    write_delta_lite(_df(spark, [(3, "c")]), path, mode="append")
    with pytest.raises(ValueError, match="invariant"):
        write_delta_lite(_df(spark, [(-1, "x")]), path, mode="append")
    assert {r.id for r in read_delta_lite(spark, path).collect()} == {
        1, 2, 3,
    }
    dl.delete_rows(spark, path, "id = 2")
    assert {r.id for r in read_delta_lite(spark, path).collect()} == {1, 3}


def test_legacy_upgrade_carries_implicit_features(spark, tmp_path):
    """r8 review: upgrading a legacy writer-v2 table to table features
    must list appendOnly+invariants (the implicit legacy set) or
    downstream writers stop enforcing them."""
    import lcr_etl_upgrade_spark.delta_lite as dl

    # via delete_rows on a plain table
    path = str(tmp_path / "t")
    write_delta_lite(_df(spark, [(1, "a")]), path)
    dl.delete_rows(spark, path, "id = 1")
    feats = set(replay_log(spark, path).protocol["writerFeatures"])
    assert {"deletionVectors", "appendOnly", "invariants"} <= feats

    # via enabling column mapping on an existing legacy table
    path2 = str(tmp_path / "u")
    write_delta_lite(_df(spark, [(1, "a")]), path2)
    write_delta_lite(_df(spark, [(2, "b")]), path2, column_mapping="name")
    feats2 = set(replay_log(spark, path2).protocol["writerFeatures"])
    assert {"columnMapping", "appendOnly", "invariants"} <= feats2

    # a FRESH mapped table carries no legacy baggage
    path3 = str(tmp_path / "v")
    write_delta_lite(_df(spark, [(1, "a")]), path3, column_mapping="name")
    assert replay_log(spark, path3).protocol["writerFeatures"] == [
        "columnMapping"
    ]


def test_checkpoint_preserves_txn_and_domain_metadata(spark, tmp_path):
    """r8 review: setTransaction watermarks and domainMetadata are
    checkpoint STATE - replay solely from the checkpoint must still see
    them, or idempotent writers re-apply batches and domain config is
    erased. Also: unknown state-bearing writer features refuse
    checkpointing (r9 moved rowTracking INTO the representable set, so
    the refusal example is now a genuinely unknown feature)."""
    from lcr_etl_upgrade_spark.delta_lite import write_checkpoint

    path = str(tmp_path / "t")
    write_delta_lite(_df(spark, [(1, "a")]), path)
    with open(os.path.join(path, "_delta_log", f"{1:020d}.json"), "w") as fh:
        fh.write(json.dumps({"txn": {
            "appId": "stream-42", "version": 7, "lastUpdated": 123,
        }}) + "\n")
        fh.write(json.dumps({"domainMetadata": {
            "domain": "delta.example", "configuration": "{\"k\":1}",
            "removed": False,
        }}) + "\n")
    v = write_checkpoint(spark, path)
    assert v == 1
    for f in list(os.listdir(os.path.join(path, "_delta_log"))):
        if f.endswith(".json") and not f.startswith("_"):
            os.remove(os.path.join(path, "_delta_log", f))
    state = replay_log(spark, path)
    assert state.txns["stream-42"]["version"] == 7
    assert state.domains["delta.example"]["configuration"] == '{"k":1}'
    assert {r.id for r in read_delta_lite(spark, path).collect()} == {1}

    # a feature whose state this schema has never seen refuses
    path2 = str(tmp_path / "u")
    write_delta_lite(_df(spark, [(1, "a")]), path2)
    with open(os.path.join(path2, "_delta_log", f"{1:020d}.json"),
              "w") as fh:
        fh.write(json.dumps({"protocol": {
            "minReaderVersion": 1, "minWriterVersion": 7,
            "writerFeatures": ["someFutureStatefulFeature"],
        }}) + "\n")
    with pytest.raises(NotImplementedError,
                       match="someFutureStatefulFeature"):
        write_checkpoint(spark, path2)


def test_mapping_upgrade_on_already_v3_table_declares_feature(spark, tmp_path):
    """r8 review #3: a table can sit at reader v3 for OTHER features
    (e.g. a prior delete_rows upgrade); enabling column mapping must
    still declare columnMapping in the lists — and must PRESERVE the
    features already there."""
    import lcr_etl_upgrade_spark.delta_lite as dl

    path = str(tmp_path / "t")
    write_delta_lite(_df(spark, [(1, "a"), (2, "b")]), path)
    dl.delete_rows(spark, path, "id = 1")  # -> 3/7 deletionVectors
    write_delta_lite(
        _df(spark, [(3, "c")]), path, mode="overwrite",
        column_mapping="name",
    )
    proto = replay_log(spark, path).protocol
    assert "columnMapping" in proto["readerFeatures"]
    assert "columnMapping" in proto["writerFeatures"]
    # prior features preserved, not rebuilt from scratch
    assert "deletionVectors" in proto["readerFeatures"]
    assert "deletionVectors" in proto["writerFeatures"]
    got = {(r.id, r.name) for r in read_delta_lite(spark, path).collect()}
    assert got == {(3, "c")}
    # and the mapped table still deletes
    dl.delete_rows(spark, path, "id = 3")
    assert read_delta_lite(spark, path).count() == 0


# ---- one-selectExpr wide projections (_cast_select) ----------------------

ODD = ["a.b", "c d", "e`f"]


def _odd_frame(spark):
    from pyspark.sql import types as T

    inner = T.StructType(
        [T.StructField(n, T.LongType()) for n in ODD]
        + [T.StructField("g h", T.ArrayType(T.StructType(
            [T.StructField("i.j", T.StringType())])))]
    )
    schema = T.StructType(
        [T.StructField(n, T.LongType()) for n in ODD]
        + [T.StructField("s.t", inner), T.StructField("p k", T.StringType())]
    )
    rows = [
        (i, i * 2, i * 3, (i, -i, i * 10, [(f"v{i}",)]),
         ["it's", "a\\b", "x"][i % 3])
        for i in range(12)
    ]
    return spark.createDataFrame(rows, schema)


def test_cast_select_round_trips_odd_names_and_nested_types(spark):
    from pyspark.sql import types as T

    from lcr_etl_upgrade_spark.delta_lite import _cast_select, _sql_name

    df = _odd_frame(spark)
    # NOT NULL nested struct field: spelled by DataType.sql; non-null
    # array elements: not spelled, so that column keeps a Column cast
    nn = T.StructType([
        T.StructField("k`1", T.IntegerType(), False),
        T.StructField("l m", T.ArrayType(T.IntegerType(), False), False),
    ])
    df = df.withColumn(
        "n n",
        F.struct(F.lit(1).alias("k`1"), F.array(F.lit(2)).alias("l m")),
    )
    cols = [(_sql_name(f.name), f.dataType, f"x {f.name}") for f in df.schema]
    out = _cast_select(df, cols, "`a.b` + 1 AS `y.z`")
    assert out.schema.fieldNames() == [f"x {n}" for n in df.columns] + ["y.z"]
    # nested names and types round-trip, nested nullability too
    assert [f.dataType for f in out.schema.fields[:-1]] == [
        f.dataType for f in df.schema
    ]
    assert out.schema["x n n"].dataType == nn
    assert [tuple(r)[:-1] for r in out.orderBy("`x a.b`").collect()] == [
        tuple(r) for r in df.orderBy("`a.b`").collect()
    ]


def test_odd_names_column_mapped_dml_round_trip(spark, tmp_path):
    """A column-mapped, partitioned table whose names hold dots, spaces
    and backticks, with a nested struct and partition values holding a
    quote and a backslash: every projection in delete, update (rewrite
    and DV paths), merge, the reader and the change feed goes through
    the one-selectExpr helper and must keep names, values and types."""
    from lcr_etl_upgrade_spark.delta_lite import (
        delete_rows,
        merge_rows,
        read_delta_changes,
        set_table_properties,
        update_rows,
    )

    path = str(tmp_path / "odd")
    df = _odd_frame(spark)
    write_delta_lite(df, path, partition_by=("p k",), column_mapping="name")
    set_table_properties(
        spark,
        path,
        {
            "delta.enableChangeDataFeed": "true",
            "delta.enableDeletionVectors": "true",
        },
    )
    start = replay_log(spark, path).version + 1
    expect = {r["a.b"]: r.asDict(recursive=True) for r in df.collect()}

    delete_rows(spark, path, "`a.b` = 0")
    del expect[0]
    update_rows(spark, path, "`c d` = 4", {"e`f": F.lit(-1)}, use_dvs=True)
    expect[2]["e`f"] = -1
    update_rows(spark, path, "`a.b` = 5", {"e`f": F.lit(-5)}, use_dvs=False)
    expect[5]["e`f"] = -5
    src = df.filter("`a.b` >= 9").withColumn("c d", F.lit(0))
    merge_rows(
        spark, path, src, "t.`a.b` = s.`a.b`",
        matched=(("update", None, {"c d": "s.`c d`"}),),
    )
    for k in (9, 10, 11):
        expect[k]["c d"] = 0

    got = read_delta_lite(spark, path)
    assert got.schema == df.schema
    assert {r["a.b"]: r.asDict(recursive=True) for r in got.collect()} == expect
    feed = read_delta_changes(spark, path, start)
    kinds = sorted(
        (r["_change_type"], r["a.b"]) for r in feed.collect()
    )
    assert ("delete", 0) in kinds
    assert ("update_postimage", 2) in kinds and ("update_preimage", 5) in kinds
    assert [k for k in kinds if k[0] == "update_postimage"] == [
        ("update_postimage", k) for k in (2, 5, 9, 10, 11)
    ]
    post = {
        r["a.b"]: r.asDict(recursive=True)
        for r in feed.filter("_change_type = 'update_postimage'").collect()
    }
    for k, row in post.items():
        assert {c: row[c] for c in df.columns} == expect[k]
