"""Native Delta transaction-log reader (sources/deltalog.py): the
test tables carry hand-written ``_delta_log`` commits in exactly the
action format delta-spark produces (published protocol), so the
reader is exercised against the real on-disk contract without the
delta jars this image lacks."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from time_series_prediction_spark.sources.deltalog import (
    DeltaProtocolUnsupported,
    is_delta_table,
    read_delta,
    read_delta_log,
)


def _write_parquet(spark, path, rows, schema):
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(path + ".tmp")
    import glob
    import shutil

    src = glob.glob(os.path.join(path + ".tmp", "*.parquet"))[0]
    shutil.move(src, path)
    shutil.rmtree(path + ".tmp")


def _commit(table, v, actions):
    log = os.path.join(table, "_delta_log")
    os.makedirs(log, exist_ok=True)
    with open(os.path.join(log, f"{v:020d}.json"), "w") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")


def _meta(schema_json, part_cols=()):
    return {
        "metaData": {
            "id": "00000000-0000-0000-0000-000000000000",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": schema_json,
            "partitionColumns": list(part_cols),
            "configuration": {},
            "createdTime": 0,
        }
    }


def _add(path, pvals=None, **extra):
    return {
        "add": {
            "path": path,
            "partitionValues": pvals or {},
            "size": 1,
            "modificationTime": 0,
            "dataChange": True,
            **extra,
        }
    }


def _remove(path):
    return {
        "remove": {"path": path, "deletionTimestamp": 0,
                   "dataChange": True}
    }


_PROTO1 = {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}


def test_snapshot_excludes_removed_files(spark, tmp_path):
    """The core Delta semantics a raw parquet scan gets WRONG: a file
    removed by the log but still on disk (awaiting vacuum) must not
    contribute rows; time travel re-includes it."""
    table = str(tmp_path / "t")
    os.makedirs(table)
    sch = "k long, v long"
    schema_json = spark.createDataFrame([], sch).schema.json()
    _write_parquet(spark, os.path.join(table, "A.parquet"),
                   [(i, i) for i in range(10)], sch)
    _write_parquet(spark, os.path.join(table, "B.parquet"),
                   [(i, i) for i in range(10, 20)], sch)
    _commit(table, 0, [_PROTO1, _meta(schema_json),
                       _add("A.parquet"), _add("B.parquet")])
    _write_parquet(spark, os.path.join(table, "C.parquet"),
                   [(i, i) for i in range(20, 25)], sch)
    _commit(table, 1, [_remove("A.parquet"), _add("C.parquet")])

    assert is_delta_table(spark, table)
    got = read_delta(spark, table)
    assert sorted(r["k"] for r in got.collect()) == list(range(10, 25))
    # the un-logged scan would have been wrong:
    raw = spark.read.parquet(table).count()
    assert raw == 25 and got.count() == 15
    # VERSION AS OF 0 re-includes A and excludes C
    v0 = read_delta(spark, table, version=0)
    assert sorted(r["k"] for r in v0.collect()) == list(range(20))


def test_partition_values_attach_typed_columns(spark, tmp_path):
    """Partition columns live ONLY in the log's partitionValues (the
    data files do not carry them); paths are URL-encoded per the
    spec. The reader must attach them typed from schemaString."""
    table = str(tmp_path / "t")
    os.makedirs(os.path.join(table, "d=2024-01-01"))
    os.makedirs(os.path.join(table, "d=2024-01-02"))
    full = "d date, k long, v long"
    schema_json = spark.createDataFrame([], full).schema.json()
    _write_parquet(
        spark, os.path.join(table, "d=2024-01-01", "p0.parquet"),
        [(1, 10), (2, 20)], "k long, v long",
    )
    _write_parquet(
        spark, os.path.join(table, "d=2024-01-02", "p0.parquet"),
        [(3, 30)], "k long, v long",
    )
    _commit(table, 0, [
        _PROTO1, _meta(schema_json, part_cols=["d"]),
        _add("d%3D2024-01-01/p0.parquet", {"d": "2024-01-01"}),
        _add("d%3D2024-01-02/p0.parquet", {"d": "2024-01-02"}),
    ])
    got = read_delta_log(spark, table)
    assert got.columns == ["d", "k", "v"]
    assert got.schema["d"].dataType.simpleString() == "date"
    day1 = got.where(F.col("d") == F.lit("2024-01-01").cast("date"))
    assert sorted(r["k"] for r in day1.collect()) == [1, 2]
    assert got.count() == 3


def test_checkpoint_plus_tail_commits(spark, tmp_path):
    """Snapshot from a checkpoint parquet + the JSON commits after it
    — with the pre-checkpoint commits aged out (log cleanup), exactly
    the state a long-lived table is read from."""
    table = str(tmp_path / "t")
    os.makedirs(table)
    sch = "k long, v long"
    schema_json = spark.createDataFrame([], sch).schema.json()
    for name, lo in (("A", 0), ("B", 10)):
        _write_parquet(spark, os.path.join(table, f"{name}.parquet"),
                       [(i, i) for i in range(lo, lo + 10)], sch)
    # checkpoint at v1 describes: protocol, metaData, live file B
    # (A was added at v0 and removed at v1 — both commits cleaned up)
    cp_rows = [
        ({"minReaderVersion": 1}, None, None),
        (None, {
            "id": "x", "format": {"provider": "parquet"},
            "schemaString": schema_json, "partitionColumns": [],
        }, None),
        (None, None, {"path": "B.parquet", "partitionValues": {}}),
    ]
    cp_schema = (
        "protocol struct<minReaderVersion:int>, "
        "metaData struct<id:string, format:struct<provider:string>, "
        "schemaString:string, partitionColumns:array<string>>, "
        "add struct<path:string, partitionValues:map<string,string>>"
    )
    log = os.path.join(table, "_delta_log")
    os.makedirs(log)
    _write_parquet(
        spark, os.path.join(log, f"{1:020d}.checkpoint.parquet"),
        cp_rows, cp_schema,
    )
    _write_parquet(spark, os.path.join(table, "C.parquet"),
                   [(i, i) for i in range(20, 23)], sch)
    _commit(table, 2, [_add("C.parquet")])
    got = read_delta_log(spark, table)
    assert sorted(r["k"] for r in got.collect()) == (
        list(range(10, 20)) + [20, 21, 22]
    )


def test_dv_gated_table_now_reads(spark, tmp_path):
    """Round-9 graduation: a deletionVectors-gated table (reader v3)
    whose adds carry no actual vector reads fine — the feature is
    implemented, so the gate alone no longer refuses."""
    table = str(tmp_path / "t")
    os.makedirs(table)
    sch = "k long"
    schema_json = spark.createDataFrame([], sch).schema.json()
    _write_parquet(spark, os.path.join(table, "A.parquet"),
                   [(1,)], sch)
    _commit(table, 0, [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors"]}},
        _meta(schema_json), _add("A.parquet"),
    ])
    assert [r["k"] for r in read_delta_log(spark, table).collect()] == [1]


def test_plain_parquet_fallback_still_works(spark, tmp_path):
    out = str(tmp_path / "plain")
    spark.range(7).write.parquet(out)
    assert read_delta(spark, out).count() == 7
    with pytest.raises(ValueError, match="not a Delta table"):
        read_delta(spark, out, version=0)


def test_write_delta_log_roundtrip_overwrite_append(spark, tmp_path):
    """The native sink: two overwrites + one append produce a
    protocol-1 log whose snapshot hides the overwritten generation
    (still on disk) and stacks the append; version reads recover each
    state."""
    from time_series_prediction_spark.sources.deltalog import (
        write_delta_log,
    )

    table = str(tmp_path / "t")
    v0 = write_delta_log(
        spark.range(10).select(F.col("id").alias("k")), table,
        mode="overwrite",
    )
    v1 = write_delta_log(
        spark.range(100, 105).select(F.col("id").alias("k")), table,
        mode="overwrite",
    )
    v2 = write_delta_log(
        spark.range(200, 202).select(F.col("id").alias("k")), table,
        mode="append",
    )
    assert (v0, v1, v2) == (0, 1, 2)
    got = sorted(r["k"] for r in read_delta(spark, table).collect())
    assert got == [100, 101, 102, 103, 104, 200, 201]
    # overwritten generation still on disk, correctly hidden by the log
    assert spark.read.parquet(table).count() == 17
    assert sorted(
        r["k"] for r in read_delta(spark, table, version=0).collect()
    ) == list(range(10))


def test_write_delta_log_partitioned(spark, tmp_path):
    """Partitioned native sink: hive-layout files, partitionValues in
    the log, and the reader reattaches the typed partition column."""
    from time_series_prediction_spark.sources.deltalog import (
        write_delta_log,
    )

    table = str(tmp_path / "t")
    df = spark.range(20).select(
        (F.col("id") % 3).cast("int").alias("g"),
        F.col("id").alias("k"),
    )
    write_delta_log(df, table, partition_cols=["g"])
    got = read_delta_log(spark, table)
    assert set(got.columns) == {"g", "k"}
    assert got.count() == 20
    assert got.where("g = 1").count() == 7
    # append with mismatched partitioning is refused
    with pytest.raises(ValueError, match="partition columns"):
        write_delta_log(df, table, mode="append", partition_cols=[])


def test_delta_stream_sink_exactly_once_on_replay(spark, tmp_path):
    """The txn-token idempotence contract: a replayed micro-batch
    (same batch_id) must not append twice; the table equals the
    batch union and any Delta reader sees the txn actions."""
    from time_series_prediction_spark.sources.deltalog import (
        delta_snapshot,
        delta_stream_sink,
    )

    table = str(tmp_path / "t")
    sink = delta_stream_sink(table, app_id="test-app")
    b0 = spark.range(10).select(F.col("id").alias("k"))
    b1 = spark.range(10, 15).select(F.col("id").alias("k"))
    sink(b0, 0)
    sink(b1, 1)
    assert read_delta(spark, table).count() == 15
    sink(b1, 1)  # crash replay of the last batch
    got = sorted(r["k"] for r in read_delta(spark, table).collect())
    assert got == list(range(15)), "replay appended duplicates"
    _f, _m, _v, txns, _p = delta_snapshot(spark, table)
    assert txns == {"test-app": 1}
    sink(spark.range(20, 22).select(F.col("id").alias("k")), 2)
    assert read_delta(spark, table).count() == 17


def test_stream_checkpointing_bounds_log_replay(spark, tmp_path):
    """25 micro-batches with checkpoint_interval=10 and log cleanup:
    the superseded JSON commits are gone, snapshot reconstruction
    runs checkpoint + tail only, and the table still equals the
    batch union (txn tokens survive the checkpoint, so a replay
    after cleanup is STILL deduped)."""
    from time_series_prediction_spark.sources.deltalog import (
        delta_snapshot,
        delta_stream_sink,
    )

    table = str(tmp_path / "t")
    sink = delta_stream_sink(
        table, app_id="long", checkpoint_interval=10,
        clean_old_commits=True,
    )
    for b in range(25):
        sink(
            spark.range(b * 4, b * 4 + 4).select(F.col("id").alias("k")),
            b,
        )
    log = os.path.join(table, "_delta_log")
    jsons = [n for n in os.listdir(log) if n.endswith(".json")]
    cps = [n for n in os.listdir(log) if n.endswith(".checkpoint.parquet")]
    assert cps, "no checkpoint written"
    assert len(jsons) <= 11, f"log cleanup ineffective: {len(jsons)}"
    got = sorted(r["k"] for r in read_delta(spark, table).collect())
    assert got == list(range(100))
    # a replay AFTER cleanup: the txn token lives in the checkpoint
    sink(spark.range(96, 100).select(F.col("id").alias("k")), 24)
    assert read_delta(spark, table).count() == 100
    _f, _m, _v, txns, _p = delta_snapshot(spark, table)
    assert txns["long"] == 24


def test_unreadable_log_layout_raises_not_parquet_fallback(
    spark, tmp_path
):
    """A _delta_log holding only a MULTI-PART checkpoint (the layout
    delta-spark produces after log cleanup on big tables) is still a
    Delta table: read_delta must refuse loudly, never fall through to
    a plain parquet scan that would double-count tombstoned files."""
    from time_series_prediction_spark.sources.deltalog import (
        has_delta_log,
    )

    table = str(tmp_path / "t")
    sch = "k long, v long"
    _write_parquet(spark, os.path.join(table, "A.parquet"),
                   [(1, 1)], sch)
    log = os.path.join(table, "_delta_log")
    os.makedirs(log)
    # multi-part checkpoint name: %020d.checkpoint.%010d.%010d.parquet
    open(os.path.join(
        log, f"{3:020d}.checkpoint.{1:010d}.{2:010d}.parquet"
    ), "wb").close()
    with open(os.path.join(log, "_last_checkpoint"), "w") as f:
        f.write(json.dumps({"version": 3, "size": 1, "parts": 2}))

    assert has_delta_log(spark, table)
    assert not is_delta_table(spark, table)  # not replayable here
    with pytest.raises(DeltaProtocolUnsupported, match="cannot"):
        read_delta(spark, table)


def test_checkpoint_add_carries_required_fields(spark, tmp_path):
    """Checkpoint add structs must carry the protocol-required size /
    modificationTime and dataChange=false — a real delta-spark reader
    parses the checkpoint after clean_old_commits deleted the JSON
    history it could otherwise fall back to."""
    from time_series_prediction_spark.sources.deltalog import (
        write_checkpoint,
        write_delta_log,
    )

    table = str(tmp_path / "t")
    df = spark.range(10).select(F.col("id").alias("k"))
    write_delta_log(df, table, mode="overwrite")
    v = write_checkpoint(spark, table)
    cp = spark.read.parquet(
        os.path.join(table, "_delta_log", f"{v:020d}.checkpoint.parquet")
    )
    adds = [r["add"] for r in cp.collect() if r["add"] is not None]
    assert adds, "checkpoint carries no add entries"
    for a in adds:
        assert a["size"] > 0, "size must be the real file length"
        assert a["modificationTime"] > 0
        assert a["dataChange"] is False
    # ... and the checkpoint-only read path keeps those stats intact
    got = sorted(r["k"] for r in read_delta(spark, table).collect())
    assert got == list(range(10))


# ------------------------------------------------------------------
# Protocol breadth: deletion vectors + column mapping ('name' mode).
# Every byte below is crafted BY HAND following delta.io PROTOCOL.md
# (and the RoaringFormatSpec), independent of the reader's own
# serializers — so these pin spec compliance, not round-tripping.


def _z85_encode(data: bytes) -> str:
    alphabet = (
        "0123456789abcdefghijklmnopqrstuvwxyz"
        "ABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#"
    )
    assert len(data) % 4 == 0
    out = []
    for i in range(0, len(data), 4):
        v = int.from_bytes(data[i:i + 4], "big")
        chunk = []
        for _ in range(5):
            v, r = divmod(v, 85)
            chunk.append(alphabet[r])
        out.extend(reversed(chunk))
    return "".join(out)


def _roaring_array_bytes(positions):
    """64-bit RoaringBitmapArray, portable serialization, by hand:
    one 32-bit bitmap, one array container (all positions < 2^16)."""
    import struct

    vals = sorted(positions)
    assert all(p < 65536 for p in vals)
    bm = struct.pack("<I", 12346)            # SERIAL_COOKIE_NO_RUN
    bm += struct.pack("<I", 1)               # one container
    bm += struct.pack("<HH", 0, len(vals) - 1)   # key 0, card-1
    bm += struct.pack("<I", 16)              # container offset
    bm += struct.pack(f"<{len(vals)}H", *vals)
    return struct.pack("<i", 1681511377) + struct.pack("<q", 1) + bm


def test_deletion_vector_inline_hides_rows(spark, tmp_path):
    """An add with an INLINE ('i') deletion vector: the z85-encoded
    roaring bitmap's row positions are hidden from the scan."""
    table = str(tmp_path / "t")
    os.makedirs(table)
    sch = "k long, v long"
    schema_json = spark.createDataFrame([], sch).schema.json()
    _write_parquet(spark, os.path.join(table, "A.parquet"),
                   [(i, i * 10) for i in range(10)], sch)
    dv_bytes = _roaring_array_bytes([1, 3, 7, 8])
    _commit(table, 0, [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors"],
                      "writerFeatures": ["deletionVectors"]}},
        _meta(schema_json),
        _add("A.parquet", deletionVector={
            "storageType": "i",
            "pathOrInlineDv": _z85_encode(dv_bytes),
            "offset": None,
            "sizeInBytes": len(dv_bytes),
            "cardinality": 4,
        }),
    ])
    got = sorted(r["k"] for r in read_delta(spark, table).collect())
    assert got == [0, 2, 4, 5, 6, 9]


def test_deletion_vector_uuid_file_hides_rows(spark, tmp_path):
    """An add with a FILE-backed ('u') deletion vector: the sidecar
    ``deletion_vector_<uuid>.bin`` (1-byte version, big-endian size,
    bitmap, CRC-32) parses and hides exactly its positions; a second
    file without a DV is untouched."""
    import struct
    import uuid
    import zlib

    table = str(tmp_path / "t")
    os.makedirs(table)
    sch = "k long, v long"
    schema_json = spark.createDataFrame([], sch).schema.json()
    _write_parquet(spark, os.path.join(table, "A.parquet"),
                   [(i, i) for i in range(8)], sch)
    _write_parquet(spark, os.path.join(table, "B.parquet"),
                   [(i, i) for i in range(8, 16)], sch)
    u = uuid.uuid4()
    dv_bytes = _roaring_array_bytes([0, 5])
    payload = (
        b"\x01"                               # DV file format version
        + struct.pack(">i", len(dv_bytes))
        + dv_bytes
        + struct.pack(">I", zlib.crc32(dv_bytes) & 0xFFFFFFFF)
    )
    with open(
        os.path.join(table, f"deletion_vector_{u}.bin"), "wb"
    ) as f:
        f.write(payload)
    _commit(table, 0, [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors"],
                      "writerFeatures": ["deletionVectors"]}},
        _meta(schema_json),
        _add("A.parquet", deletionVector={
            "storageType": "u",
            "pathOrInlineDv": _z85_encode(u.bytes),
            "offset": 1,
            "sizeInBytes": len(dv_bytes),
            "cardinality": 2,
        }),
        _add("B.parquet"),
    ])
    got = sorted(r["k"] for r in read_delta(spark, table).collect())
    assert got == [1, 2, 3, 4, 6, 7] + list(range(8, 16))


def test_column_mapping_name_mode(spark, tmp_path):
    """Column mapping 'name' mode: data files carry PHYSICAL column
    names and partitionValues are keyed by physical name; the scan
    aliases back to the logical schema."""
    import json as _json

    table = str(tmp_path / "t")
    os.makedirs(table)
    # physical schema in the files: col-aaa / col-bbb; logical: k / v;
    # partition column p is physical col-ppp
    schema = {
        "type": "struct",
        "fields": [
            {"name": "k", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.id": 1,
                          "delta.columnMapping.physicalName": "col-aaa"}},
            {"name": "v", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.id": 2,
                          "delta.columnMapping.physicalName": "col-bbb"}},
            {"name": "p", "type": "integer", "nullable": True,
             "metadata": {"delta.columnMapping.id": 3,
                          "delta.columnMapping.physicalName": "col-ppp"}},
        ],
    }
    _write_parquet(
        spark, os.path.join(table, "A.parquet"),
        [(i, i * 2) for i in range(5)], "`col-aaa` long, `col-bbb` long",
    )
    meta = _meta(_json.dumps(schema), part_cols=["p"])
    meta["metaData"]["partitionColumns"] = ["p"]
    meta["metaData"]["configuration"] = {
        "delta.columnMapping.mode": "name",
        "delta.columnMapping.maxColumnId": "3",
    }
    _commit(table, 0, [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        meta,
        _add("A.parquet", pvals={"col-ppp": "7"}),
    ])
    got = read_delta(spark, table)
    assert got.columns == ["k", "v", "p"]
    rows = sorted(map(tuple, got.collect()))
    assert rows == [(i, i * 2, 7) for i in range(5)]


def _write_parquet_field_ids(path, cols):
    """One parquet file whose columns carry PARQUET FIELD IDS and
    internal names unrelated to the table's logical OR physical names
    — the exact file an id-mode writer (e.g. an Iceberg convert) may
    produce. ``cols`` = [(internal_name, field_id, pa_type, values)]."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    fields = [
        pa.field(n, t, metadata={b"PARQUET:field_id": str(i).encode()})
        for n, i, t, _ in cols
    ]
    tbl = pa.table(
        {n: pa.array(vals, t) for n, _, t, vals in cols},
        schema=pa.schema(fields),
    )
    pq.write_table(tbl, path)


def test_column_mapping_id_mode_reads(spark, tmp_path):
    """'id' mode: data columns resolve by parquet FIELD ID, not by
    name — the file's internal names here match NEITHER the logical
    nor the recorded physical names, so any name-based resolution
    would return nulls or error; only id resolution yields the rows.
    DELETE works on top (the scan is the same one plan branch)."""
    import json as _json

    import pyarrow as pa

    from time_series_prediction_spark.sources.deltalog import (
        delta_delete,
    )

    table = str(tmp_path / "t")
    os.makedirs(table)
    _write_parquet_field_ids(
        os.path.join(table, "A.parquet"),
        [
            ("junk_1", 1, pa.int64(), [1, 2, 3]),
            ("junk_2", 2, pa.string(), ["a", "b", "c"]),
        ],
    )
    schema = {
        "type": "struct",
        "fields": [
            {"name": "k", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.id": 1,
                          "delta.columnMapping.physicalName": "col-aaa"}},
            {"name": "v", "type": "string", "nullable": True,
             "metadata": {"delta.columnMapping.id": 2,
                          "delta.columnMapping.physicalName": "col-bbb"}},
        ],
    }
    meta = _meta(_json.dumps(schema))
    meta["metaData"]["configuration"] = {
        "delta.columnMapping.mode": "id"
    }
    _commit(table, 0, [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        meta,
        _add("A.parquet"),
    ])
    got = read_delta(spark, table)
    assert got.columns == ["k", "v"]
    assert sorted(map(tuple, got.collect())) == [
        (1, "a"), (2, "b"), (3, "c")
    ]
    # DELETE through the id-resolved scan (predicate on LOGICAL names)
    delta_delete(spark, table, "k = 2")
    assert sorted(map(tuple, read_delta(spark, table).collect())) == [
        (1, "a"), (3, "c")
    ]


def test_unsupported_reader_feature_still_refused(spark, tmp_path):
    """v3 tables gated on a feature this reader lacks (e.g. variant
    types) must refuse even though DVs/columnMapping/v2Checkpoint are
    now supported."""
    table = str(tmp_path / "t")
    os.makedirs(table)
    sch = "k long"
    schema_json = spark.createDataFrame([], sch).schema.json()
    _write_parquet(spark, os.path.join(table, "A.parquet"),
                   [(1,)], sch)
    _commit(table, 0, [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["variantType"]}},
        _meta(schema_json),
        _add("A.parquet"),
    ])
    with pytest.raises(DeltaProtocolUnsupported):
        read_delta(spark, table)


def test_delta_delete_writes_protocol_dvs(spark, tmp_path):
    """Native DELETE via deletion vectors: matched positions serialize
    as protocol roaring bitmaps into a UUID sidecar, the touched adds
    re-commit with DV descriptors + the v3 protocol upgrade, the
    spec-pinned reader hides exactly the deleted rows, VERSION AS OF
    shows the pre-delete state, and a second delete UNIONS positions
    instead of resurrecting the first batch."""
    from time_series_prediction_spark.sources.deltalog import (
        delta_delete,
        delta_snapshot,
        write_delta_log,
    )

    table = str(tmp_path / "t")
    df = spark.range(100).select(
        F.col("id").alias("k"),
        (F.col("id") % 4).cast("int").alias("p"),
        (F.col("id") * 3).alias("v"),
    )
    write_delta_log(df, table, mode="overwrite", partition_cols=["p"])

    v1 = delta_delete(spark, table, "k % 10 = 0")
    assert v1 == 1
    got = sorted(r["k"] for r in read_delta(spark, table).collect())
    assert got == [k for k in range(100) if k % 10 != 0]
    # time travel: pre-delete snapshot intact
    v0 = read_delta(spark, table, version=0)
    assert v0.count() == 100
    # the DV rides the protocol descriptor, not a data rewrite
    files, _m, _v, _t, _p = delta_snapshot(spark, table)
    with_dv = [r for r, a in files.items() if a.get("deletionVector")]
    assert with_dv, "no add carries a deletionVector"
    for rel, a in files.items():
        if a.get("deletionVector"):
            assert a["deletionVector"]["storageType"] == "u"
            assert a["deletionVector"]["cardinality"] > 0
    sidecars = [
        n for n in os.listdir(table)
        if n.startswith("deletion_vector_") and n.endswith(".bin")
    ]
    assert sidecars

    # second delete on overlapping files: positions union
    v2 = delta_delete(spark, table, "k % 15 = 0")
    assert v2 == 2
    got2 = sorted(r["k"] for r in read_delta(spark, table).collect())
    assert got2 == [
        k for k in range(100) if k % 10 != 0 and k % 15 != 0
    ]
    # predicate matching nothing: no commit burned
    assert delta_delete(spark, table, "k = -1") == 2
    # predicate over the PARTITION column works too
    v3 = delta_delete(spark, table, "p = 3 AND k < 20")
    got3 = sorted(r["k"] for r in read_delta(spark, table).collect())
    assert got3 == [
        k for k in range(100)
        if k % 10 != 0 and k % 15 != 0 and not (k % 4 == 3 and k < 20)
    ]
    assert v3 == 3


def test_roaring_serializer_roundtrips_spec_parser(spark):
    """The DELETE writer's bitmap serializer must round-trip through
    the spec-pinned parser — including a >4096-value bitset container
    and values above 2^32 (second positional bitmap)."""
    from time_series_prediction_spark.sources.deltalog import (
        _parse_roaring_bitmap_array,
        _serialize_roaring_bitmap_array,
    )

    cases = [
        [],
        [0],
        [1, 3, 7, 65535, 65536, 131072 + 5],
        list(range(5000)),                      # bitset container
        [2**32 + 7, 2**32 + 9, 5],              # multi-bitmap
        list(range(0, 200000, 3)),
    ]
    for c in cases:
        got = sorted(_parse_roaring_bitmap_array(
            _serialize_roaring_bitmap_array(c)
        ))
        assert got == sorted(set(c)), f"roundtrip failed for {c[:5]}…"


def test_multipart_checkpoint_reads(spark, tmp_path):
    """A COMPLETE multi-part checkpoint (<v>.checkpoint.<i>.<n>.parquet)
    replays like a classic one; an incomplete group is ignored (and
    alone makes the table unreplayable, not wrong)."""
    from time_series_prediction_spark.sources.deltalog import (
        read_delta_log,
    )

    table = str(tmp_path / "t")
    os.makedirs(table)
    sch = "k long, v long"
    schema_json = spark.createDataFrame([], sch).schema.json()
    _write_parquet(spark, os.path.join(table, "A.parquet"),
                   [(i, i) for i in range(5)], sch)
    _write_parquet(spark, os.path.join(table, "B.parquet"),
                   [(i, i) for i in range(5, 10)], sch)
    log = os.path.join(table, "_delta_log")
    os.makedirs(log)
    cp_schema = (
        "protocol struct<minReaderVersion:int>, "
        "metaData struct<id:string, format:struct<provider:string>, "
        "schemaString:string, partitionColumns:array<string>>, "
        "add struct<path:string, partitionValues:map<string,string>>"
    )
    # part 1: protocol + metaData; part 2: the adds
    _write_parquet(
        spark,
        os.path.join(log, f"{1:020d}.checkpoint.{1:010d}.{2:010d}.parquet"),
        [
            ({"minReaderVersion": 1}, None, None),
            (None, {
                "id": "x", "format": {"provider": "parquet"},
                "schemaString": schema_json, "partitionColumns": [],
            }, None),
        ],
        cp_schema,
    )
    _write_parquet(
        spark,
        os.path.join(log, f"{1:020d}.checkpoint.{2:010d}.{2:010d}.parquet"),
        [
            (None, None, {"path": "A.parquet", "partitionValues": {}}),
            (None, None, {"path": "B.parquet", "partitionValues": {}}),
        ],
        cp_schema,
    )
    with open(os.path.join(log, "_last_checkpoint"), "w") as f:
        f.write(json.dumps({"version": 1, "size": 4, "parts": 2}))
    assert is_delta_table(spark, table)
    got = sorted(r["k"] for r in read_delta_log(spark, table).collect())
    assert got == list(range(10))
    # commits after the checkpoint replay on top
    _write_parquet(spark, os.path.join(table, "C.parquet"),
                   [(10, 10)], sch)
    _commit(table, 2, [_add("C.parquet"), _remove("A.parquet")])
    got2 = sorted(r["k"] for r in read_delta_log(spark, table).collect())
    assert got2 == list(range(5, 11))


def test_timestamp_time_travel(spark, tmp_path):
    """TIMESTAMP AS OF: commit mtimes resolve to the newest commit at
    or before the asked instant; asking before the first retained
    commit raises (cleaned history must not silently answer with a
    later snapshot)."""
    import time as _time

    from time_series_prediction_spark.sources.deltalog import (
        version_at_timestamp,
        write_delta_log,
    )

    table = str(tmp_path / "t")
    df = spark.range(5).select(F.col("id").alias("k"))
    write_delta_log(df, table, mode="overwrite")
    _time.sleep(1.1)
    t_between = int(_time.time() * 1000)
    _time.sleep(1.1)
    write_delta_log(
        spark.range(5, 8).select(F.col("id").alias("k")),
        table, mode="append",
    )
    assert version_at_timestamp(spark, table, t_between) == 0
    now = int(_time.time() * 1000) + 10_000
    assert version_at_timestamp(spark, table, now) == 1
    assert read_delta(
        spark, table, timestamp_ms=t_between
    ).count() == 5
    assert read_delta(spark, table, timestamp_ms=now).count() == 8
    with pytest.raises(ValueError, match="predates"):
        version_at_timestamp(spark, table, 1000)


def test_delta_changes_since_tails_appends_exactly_once(
    spark, tmp_path
):
    """The streaming-source tail: three polls over a growing table
    deliver each appended row exactly once; an empty tail returns
    (None, latest); rewrite churn within a window (add+remove of the
    same file) delivers nothing."""
    from time_series_prediction_spark.sources.deltalog import (
        delta_changes_since,
        write_delta_log,
    )

    table = str(tmp_path / "t")
    write_delta_log(
        spark.range(5).select(F.col("id").alias("k")), table,
        mode="overwrite",
    )
    got, v = delta_changes_since(spark, table, -1)
    assert sorted(r["k"] for r in got.collect()) == list(range(5))
    assert v == 0
    none_df, v2 = delta_changes_since(spark, table, v)
    assert none_df is None and v2 == 0
    write_delta_log(
        spark.range(5, 9).select(F.col("id").alias("k")), table,
        mode="append",
    )
    write_delta_log(
        spark.range(9, 12).select(F.col("id").alias("k")), table,
        mode="append",
    )
    got2, v3 = delta_changes_since(spark, table, v)
    assert sorted(r["k"] for r in got2.collect()) == list(range(5, 12))
    assert v3 == 2
    # total across the polling loop == the table, each row once
    all_rows = sorted(r["k"] for r in got.collect()) + sorted(
        r["k"] for r in got2.collect()
    )
    assert all_rows == sorted(
        r["k"] for r in read_delta(spark, table).collect()
    )


def test_delta_changes_since_refuses_deletes(spark, tmp_path):
    """Deletes inside the tail window (remove-with-dataChange from an
    overwrite, or a DV attach) must refuse by default — already-
    delivered rows were deleted and a pure tail cannot retract them;
    ignore_deletes opts into skipping."""
    from time_series_prediction_spark.sources.deltalog import (
        delta_changes_since,
        delta_delete,
        write_delta_log,
    )

    table = str(tmp_path / "t")
    write_delta_log(
        spark.range(10).select(F.col("id").alias("k")), table,
        mode="overwrite",
    )
    _got, v = delta_changes_since(spark, table, -1)
    # overwrite = remove + add
    write_delta_log(
        spark.range(20, 24).select(F.col("id").alias("k")), table,
        mode="overwrite",
    )
    with pytest.raises(ValueError, match="already-\ndelivered|deletes data"):
        delta_changes_since(spark, table, v)
    got, v2 = delta_changes_since(spark, table, v, ignore_deletes=True)
    assert sorted(r["k"] for r in got.collect()) == [20, 21, 22, 23]

    # DV attach refuses the same way
    table2 = str(tmp_path / "t2")
    write_delta_log(
        spark.range(10).select(F.col("id").alias("k")), table2,
        mode="overwrite",
    )
    _g, v0 = delta_changes_since(spark, table2, -1)
    delta_delete(spark, table2, "k < 3")
    # the DV commit re-commits its file as remove+add, so the generic
    # delete refusal fires — either message is the right refusal
    with pytest.raises(
        ValueError, match="deletes data|deletion vector"
    ):
        delta_changes_since(spark, table2, v0)
    none_df, _ = delta_changes_since(
        spark, table2, v0, ignore_deletes=True
    )
    assert none_df is None  # the DV commit re-adds no NEW data files


def test_v2_uuid_checkpoint_with_sidecars(spark, tmp_path):
    """A v2 (UUID-named) checkpoint whose FILE actions live in
    _delta_log/_sidecars parquets replays correctly — checkpoint-only
    log (history cleaned) plus one tail commit. This was a refusal
    before round 9."""
    import uuid

    from time_series_prediction_spark.sources.deltalog import (
        has_delta_log,
        read_delta_log,
    )

    table = str(tmp_path / "t")
    os.makedirs(table)
    sch = "k long, v long"
    schema_json = spark.createDataFrame([], sch).schema.json()
    for name, lo in (("A", 0), ("B", 10)):
        _write_parquet(spark, os.path.join(table, f"{name}.parquet"),
                       [(i, i) for i in range(lo, lo + 10)], sch)
    log = os.path.join(table, "_delta_log")
    sidecar_dir = os.path.join(log, "_sidecars")
    os.makedirs(sidecar_dir)
    # sidecar: the live file actions (A live, B was removed pre-cp)
    sc_schema = (
        "add struct<path:string, partitionValues:map<string,string>, "
        "size:long, modificationTime:long, dataChange:boolean>, "
        "remove struct<path:string, deletionTimestamp:long, "
        "dataChange:boolean>"
    )
    _write_parquet(
        spark, os.path.join(sidecar_dir, "sc-1.parquet"),
        [
            ({"path": "A.parquet", "partitionValues": {}, "size": 1,
              "modificationTime": 0, "dataChange": False}, None),
            (None, {"path": "B.parquet", "deletionTimestamp": 0,
                    "dataChange": False}),
        ],
        sc_schema,
    )
    # the v2 checkpoint itself: protocol/metaData/checkpointMetadata +
    # the sidecar reference
    cp_schema = (
        "protocol struct<minReaderVersion:int, minWriterVersion:int, "
        "readerFeatures:array<string>, writerFeatures:array<string>>, "
        "metaData struct<id:string, format:struct<provider:string>, "
        "schemaString:string, partitionColumns:array<string>>, "
        "checkpointMetadata struct<version:long>, "
        "sidecar struct<path:string, sizeInBytes:long>"
    )
    cp_rows = [
        ({"minReaderVersion": 3, "minWriterVersion": 7,
          "readerFeatures": ["v2Checkpoint"],
          "writerFeatures": ["v2Checkpoint"]}, None, None, None),
        (None, {
            "id": "x", "format": {"provider": "parquet"},
            "schemaString": schema_json, "partitionColumns": [],
        }, None, None),
        (None, None, {"version": 5}, None),
        (None, None, None, {"path": "sc-1.parquet", "sizeInBytes": 1}),
    ]
    u = uuid.uuid4()
    _write_parquet(
        spark,
        os.path.join(log, f"{5:020d}.checkpoint.{u}.parquet"),
        cp_rows, cp_schema,
    )
    with open(os.path.join(log, "_last_checkpoint"), "w") as f:
        f.write(json.dumps({"version": 5, "size": 4}))
    assert has_delta_log(spark, table)
    assert is_delta_table(spark, table)  # v2 now replayable
    got = sorted(r["k"] for r in read_delta_log(spark, table).collect())
    assert got == list(range(10))  # A live, B hidden
    # tail commit on top of the v2 checkpoint
    _write_parquet(spark, os.path.join(table, "C.parquet"),
                   [(100, 100)], sch)
    _commit(table, 6, [_add("C.parquet")])
    got2 = sorted(
        r["k"] for r in read_delta_log(spark, table).collect()
    )
    assert got2 == list(range(10)) + [100]


def test_in_commit_timestamps_beat_file_clock(spark, tmp_path):
    """commitInfo.inCommitTimestamp takes precedence over the commit
    file's mtime for TIMESTAMP AS OF — the protocol's clock-skew-proof
    rule."""
    from time_series_prediction_spark.sources.deltalog import (
        version_at_timestamp,
    )

    table = str(tmp_path / "t")
    os.makedirs(table)
    sch = "k long"
    schema_json = spark.createDataFrame([], sch).schema.json()
    _write_parquet(spark, os.path.join(table, "A.parquet"), [(1,)], sch)
    _write_parquet(spark, os.path.join(table, "B.parquet"), [(2,)], sch)
    # both commits written NOW (same mtime) but carrying explicit
    # in-commit timestamps far in the past
    _commit(table, 0, [
        {"commitInfo": {"inCommitTimestamp": 1_000_000}},
        _PROTO1, _meta(schema_json), _add("A.parquet"),
    ])
    _commit(table, 1, [
        {"commitInfo": {"inCommitTimestamp": 2_000_000}},
        _add("B.parquet"),
    ])
    assert version_at_timestamp(spark, table, 1_500_000) == 0
    assert version_at_timestamp(spark, table, 2_000_000) == 1
    with pytest.raises(ValueError, match="predates"):
        version_at_timestamp(spark, table, 999_999)


def test_roaring_roundtrip_property(spark):
    """Property: ANY position set round-trips serialize→parse —
    hypothesis drives container-boundary shapes (array↔bitset at
    4096, 16-bit key edges at 65535/65536, multi-bitmap at 2^32)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from time_series_prediction_spark.sources.deltalog import (
        _parse_roaring_bitmap_array,
        _serialize_roaring_bitmap_array,
    )

    positions = st.lists(
        st.one_of(
            st.integers(min_value=0, max_value=10_000),
            st.integers(min_value=4_090, max_value=4_100),
            st.integers(min_value=65_530, max_value=65_540),
            st.integers(min_value=2**32 - 5, max_value=2**32 + 5),
            st.integers(min_value=0, max_value=2**40),
        ),
        max_size=300,
    )

    @settings(max_examples=200, deadline=None)
    @given(positions)
    def check(ps):
        got = sorted(
            _parse_roaring_bitmap_array(
                _serialize_roaring_bitmap_array(ps)
            )
        )
        assert got == sorted(set(ps))

    check()
    # the dense boundary explicitly: 4096 (array) and 4097 (bitset)
    for n in (4096, 4097, 65536):
        ps = list(range(n))
        got = sorted(_parse_roaring_bitmap_array(
            _serialize_roaring_bitmap_array(ps)
        ))
        assert got == ps


def test_tail_survives_in_window_compaction(spark, tmp_path):
    """Rows appended (dataChange=true) and COMPACTED (remove+add with
    dataChange=false) inside the same tail window must still be
    delivered — the round-9 ADVICE high finding: popping the
    in-window add on ANY remove lost the rows, because the compacted
    replacement add is (correctly) skipped as dataChange=false. The
    original pre-vacuum file still exists and delivers."""
    from time_series_prediction_spark.sources.deltalog import (
        delta_changes_since,
        delta_snapshot,
        write_delta_log,
    )

    table = str(tmp_path / "t")
    write_delta_log(
        spark.range(5).select(F.col("id").alias("k")), table,
        mode="overwrite",
    )
    _got, v = delta_changes_since(spark, table, -1)
    assert v == 0
    write_delta_log(
        spark.range(5, 9).select(F.col("id").alias("k")), table,
        mode="append",
    )
    before, _m, _v, _t, _p = delta_snapshot(spark, table, 0)
    after, _m, _v, _t, _p = delta_snapshot(spark, table, 1)
    appended = sorted(set(after) - set(before))
    assert appended
    # simulate OPTIMIZE: one compacted file replaces the appended
    # ones, the whole commit carrying dataChange=false
    _write_parquet(
        spark, os.path.join(table, "compact-0.parquet"),
        [(int(k),) for k in range(5, 9)], "k long",
    )
    _commit(table, 2, [
        *[
            {"remove": {"path": rel, "deletionTimestamp": 0,
                        "dataChange": False}}
            for rel in appended
        ],
        {"add": {"path": "compact-0.parquet", "partitionValues": {},
                 "size": 1, "modificationTime": 0,
                 "dataChange": False}},
    ])
    got, v2 = delta_changes_since(spark, table, v)
    assert v2 == 2
    assert got is not None, "compaction swallowed committed rows"
    assert sorted(r["k"] for r in got.collect()) == [5, 6, 7, 8]


def test_delta_delete_preserves_existing_protocol_features(
    spark, tmp_path
):
    """The first DV write's protocol upgrade must UNION the
    deletionVectors feature into whatever the table already declares
    (round-9 ADVICE: hard-replacing readerFeatures dropped features
    like timestampNtz and corrupted the table for real readers), must
    expand legacy version numbers into their implied features, and
    must emit NO protocol action when the feature is already there."""
    from time_series_prediction_spark.sources.deltalog import (
        delta_delete,
        delta_snapshot,
        write_delta_log,
    )

    table = str(tmp_path / "t")
    write_delta_log(
        spark.range(30).select(F.col("id").alias("k")), table,
        mode="overwrite",
    )
    # the table independently adopted another reader-v3 feature
    _commit(table, 1, [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["timestampNtz"],
                      "writerFeatures": ["timestampNtz"]}},
    ])
    v = delta_delete(spark, table, "k % 3 = 0")
    assert v == 2
    _f, _m, _v, _t, proto = delta_snapshot(spark, table)
    assert set(proto["readerFeatures"]) == {
        "timestampNtz", "deletionVectors"
    }
    assert set(proto["writerFeatures"]) == {
        "timestampNtz", "deletionVectors"
    }
    assert proto["minReaderVersion"] == 3
    assert proto["minWriterVersion"] == 7
    # second delete: feature already present -> no protocol action
    v2 = delta_delete(spark, table, "k % 5 = 0")
    with open(
        os.path.join(table, "_delta_log", f"{v2:020d}.json")
    ) as f:
        actions = [json.loads(ln) for ln in f if ln.strip()]
    assert not any("protocol" in a for a in actions)

    # legacy table (reader 1 / writer 2): the upgrade enumerates the
    # implied legacy writer features alongside deletionVectors
    table2 = str(tmp_path / "t2")
    write_delta_log(
        spark.range(10).select(F.col("id").alias("k")), table2,
        mode="overwrite",
    )
    delta_delete(spark, table2, "k = 1")
    _f, _m, _v, _t, proto2 = delta_snapshot(spark, table2)
    assert set(proto2["readerFeatures"]) == {"deletionVectors"}
    assert set(proto2["writerFeatures"]) == {
        "appendOnly", "invariants", "deletionVectors"
    }


def test_delta_delete_constant_jobs_and_rewrite_guard(
    spark, tmp_path
):
    """VERDICT r9 #3: the delete scan is ONE distributed pass —
    the Spark job count must not scale with the table's partition
    count (the old implementation ran one serial job per partition
    group) — and a delete matching more than ``max_dv_rows`` rows
    auto-falls back to a rewrite commit (no DV ever attached)."""
    from time_series_prediction_spark.sources.deltalog import (
        delta_delete,
        delta_snapshot,
        write_delta_log,
    )

    table = str(tmp_path / "t")
    df = spark.range(240).select(
        F.col("id").alias("k"),
        (F.col("id") % 24).cast("int").alias("p"),
    )
    write_delta_log(df, table, mode="overwrite", partition_cols=["p"])

    sc = spark.sparkContext
    sc.setJobGroup("dv-delete-jobs", "delta_delete job-count probe")
    try:
        v = delta_delete(spark, table, "k % 7 = 0")
    finally:
        jobs = sc.statusTracker().getJobIdsForGroup("dv-delete-jobs")
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert v == 1
    # 24 partition groups would have been >= 24 jobs before; the
    # single-scan path needs only the count job + the positions job
    # (plus their broadcast/AQE sub-jobs)
    assert len(jobs) <= 8, f"job count scales with partitions: {jobs}"
    got = sorted(r["k"] for r in read_delta(spark, table).collect())
    assert got == [k for k in range(240) if k % 7 != 0]

    # rewrite guard: a delete matching most rows commits an overwrite
    v2 = delta_delete(spark, table, "k < 200", max_dv_rows=50)
    assert v2 == 2
    files, _m, _v, _t, _p = delta_snapshot(spark, table)
    assert not any(a.get("deletionVector") for a in files.values()), (
        "big delete should rewrite, not attach megarow DVs"
    )
    got2 = sorted(r["k"] for r in read_delta(spark, table).collect())
    assert got2 == [k for k in range(200, 240) if k % 7 != 0]
    # partition columns survive the rewrite
    assert read_delta(spark, table).where("p = 5").count() == len(
        [k for k in range(200, 240) if k % 7 != 0 and k % 24 == 5]
    )


def test_read_delta_log_single_branch_plan(spark, tmp_path):
    """VERDICT r9 #2: the physical plan must carry O(1) scan branches
    however many partition tuples the table spans — the per-tuple
    union handed Catalyst a linearly growing plan (10K partitions =
    10K branches). 300 tuples here; one FileScan + metadata-sized
    broadcast joins."""
    import shutil

    from time_series_prediction_spark.sources.deltalog import (
        read_delta_log,
    )

    table = str(tmp_path / "t")
    os.makedirs(table)
    _write_parquet(
        spark, os.path.join(table, "seed.parquet"), [(1,)], "k long"
    )
    adds = []
    for i in range(300):
        d = os.path.join(table, f"p={i}")
        os.makedirs(d)
        shutil.copy(
            os.path.join(table, "seed.parquet"),
            os.path.join(d, f"part-{i}.parquet"),
        )
        adds.append(_add(
            f"p={i}/part-{i}.parquet", pvals={"p": str(i)}
        ))
    os.remove(os.path.join(table, "seed.parquet"))
    schema_json = json.dumps({
        "type": "struct",
        "fields": [
            {"name": "k", "type": "long", "nullable": True,
             "metadata": {}},
            {"name": "p", "type": "integer", "nullable": True,
             "metadata": {}},
        ],
    })
    _commit(table, 0, [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        _meta(schema_json, part_cols=["p"]),
        *adds,
    ])
    df = read_delta_log(spark, table)
    plan = df._jdf.queryExecution().executedPlan().toString()
    n_scans = plan.count("Scan parquet") + plan.count("FileScan")
    assert n_scans <= 2, (
        f"plan has {n_scans} scan branches for 300 partition tuples"
    )
    assert df.count() == 300
    rows = df.where("p = 137").collect()
    assert [(r["k"], r["p"]) for r in rows] == [(1, 137)]


def test_delta_changes_feed_folds_deletes_and_inserts(
    spark, tmp_path
):
    """VERDICT r9 #6: the change feed delivers typed insert/delete
    rows across appends, DV deletes, and DV shrink (un-delete) — the
    exactly-once fold ``snapshot(from) + inserts − deletes ==
    snapshot(latest)`` holds at every polling window."""
    from time_series_prediction_spark.sources.deltalog import (
        delta_changes_feed,
        delta_delete,
        delta_snapshot,
        write_delta_log,
    )

    table = str(tmp_path / "t")
    write_delta_log(
        spark.range(10).select(F.col("id").alias("k")), table,
        mode="overwrite",
    )
    feed1, v1 = delta_changes_feed(spark, table, -1)
    assert v1 == 0
    rows1 = [(r["k"], r["_change_type"]) for r in feed1.collect()]
    assert sorted(rows1) == [(k, "insert") for k in range(10)]

    # window 2: a DV delete + an append
    delta_delete(spark, table, "k < 3")
    write_delta_log(
        spark.range(20, 24).select(F.col("id").alias("k")), table,
        mode="append",
    )
    feed2, v2 = delta_changes_feed(spark, table, v1)
    assert v2 == 2
    by_type: dict[str, list[int]] = {"insert": [], "delete": []}
    for r in feed2.collect():
        by_type[r["_change_type"]].append(r["k"])
    assert sorted(by_type["delete"]) == [0, 1, 2]
    assert sorted(by_type["insert"]) == [20, 21, 22, 23]

    # window 3: DV SHRINK (un-delete) — a merge-undelete re-adds the
    # DV'd file with the DV dropped, resurrecting its dead positions
    files, _m, _v, _t, _p = delta_snapshot(spark, table)
    dv_rel = next(
        rel for rel, a in files.items() if a.get("deletionVector")
    )
    add = files[dv_rel]
    _commit(table, 3, [
        {"remove": {"path": dv_rel, "deletionTimestamp": 0,
                    "dataChange": True}},
        {"add": {"path": dv_rel,
                 "partitionValues": add["partitionValues"],
                 "size": int(add["size"]),
                 "modificationTime": 0, "dataChange": True}},
    ])
    feed3, v3 = delta_changes_feed(spark, table, v2)
    assert v3 == 3
    rows3 = [(r["k"], r["_change_type"]) for r in feed3.collect()]
    assert rows3 and all(ct == "insert" for _k, ct in rows3)
    assert set(k for k, _ct in rows3) <= {0, 1, 2}, (
        "only previously-deleted rows may resurrect"
    )

    # fold across all windows == final snapshot (multiset)
    pairs2 = [(k, "insert") for k in by_type["insert"]] + [
        (k, "delete") for k in by_type["delete"]
    ]
    state: dict[int, int] = {}
    for feed in (rows1, pairs2, rows3):
        for k, ct in feed:
            state[k] = state.get(k, 0) + (1 if ct == "insert" else -1)
    final = sorted(k for k, n in state.items() if n > 0)
    assert final == sorted(
        r["k"] for r in read_delta(spark, table).collect()
    )

    # quiet window: nothing new
    none_df, v4 = delta_changes_feed(spark, table, v3)
    assert none_df is None and v4 == 3


def test_column_mapped_delete(spark, tmp_path):
    """VERDICT r9 #7: DELETE on a column-mapping 'name' table —
    the predicate is written against LOGICAL names, the scan resolves
    physical names underneath, and the mapped reader hides exactly
    the deleted rows."""
    import json as _json

    from time_series_prediction_spark.sources.deltalog import (
        delta_delete,
        delta_snapshot,
    )

    table = str(tmp_path / "t")
    os.makedirs(table)
    schema = {
        "type": "struct",
        "fields": [
            {"name": "k", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.id": 1,
                          "delta.columnMapping.physicalName": "col-aaa"}},
            {"name": "v", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.id": 2,
                          "delta.columnMapping.physicalName": "col-bbb"}},
            {"name": "p", "type": "integer", "nullable": True,
             "metadata": {"delta.columnMapping.id": 3,
                          "delta.columnMapping.physicalName": "col-ppp"}},
        ],
    }
    _write_parquet(
        spark, os.path.join(table, "A.parquet"),
        [(i, i * 2) for i in range(6)], "`col-aaa` long, `col-bbb` long",
    )
    meta = _meta(_json.dumps(schema), part_cols=["p"])
    meta["metaData"]["configuration"] = {
        "delta.columnMapping.mode": "name",
        "delta.columnMapping.maxColumnId": "3",
    }
    _commit(table, 0, [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        meta,
        _add("A.parquet", pvals={"col-ppp": "7"}),
    ])
    # logical predicate spanning a data column AND the partition column
    v = delta_delete(spark, table, "k >= 3 AND p = 7")
    assert v == 1
    got = sorted(map(tuple, read_delta(spark, table).collect()))
    assert got == [(i, i * 2, 7) for i in range(3)]
    # the upgrade kept columnMapping readable: legacy reader 2 expands
    # to the columnMapping feature alongside deletionVectors
    _f, _m, _v, _t, proto = delta_snapshot(spark, table)
    assert set(proto["readerFeatures"]) >= {
        "columnMapping", "deletionVectors"
    }


def test_delta_optimize_and_vacuum_maintenance_loop(spark, tmp_path):
    """OPTIMIZE + VACUUM close the native table's maintenance loop:
    compaction commits dataChange=false (tails pass through — the
    round-10 ADVICE fix exercised end-to-end), materializes deletion
    vectors (byte erasure), and vacuum reclaims exactly the
    unreferenced bytes past retention while the current snapshot
    keeps reading correctly."""
    from time_series_prediction_spark.sources.deltalog import (
        delta_changes_feed,
        delta_changes_since,
        delta_delete,
        delta_optimize,
        delta_snapshot,
        delta_vacuum,
        write_delta_log,
    )

    table = str(tmp_path / "t")
    mk = lambda lo, hi: spark.range(lo, hi).select(
        F.col("id").alias("k"),
        (F.col("id") % 2).cast("int").alias("p"),
    )
    write_delta_log(mk(0, 20), table, mode="overwrite",
                    partition_cols=["p"])
    _got, last = delta_changes_since(spark, table, -1)
    write_delta_log(mk(20, 30), table, mode="append",
                    partition_cols=["p"])
    got, last = delta_changes_since(spark, table, last)
    assert sorted(r["k"] for r in got.collect()) == list(range(20, 30))

    # append + OPTIMIZE inside ONE tail window: the compaction
    # (dataChange=false) must not swallow the appended rows
    write_delta_log(mk(30, 40), table, mode="append",
                    partition_cols=["p"])
    v_opt = delta_optimize(spark, table, target_files=2)
    got, last = delta_changes_since(spark, table, last)
    assert sorted(r["k"] for r in got.collect()) == list(range(30, 40))
    assert last == v_opt
    # the optimize commit is pure layout: every action dataChange=false
    with open(
        os.path.join(table, "_delta_log", f"{v_opt:020d}.json")
    ) as fh:
        acts = [json.loads(ln) for ln in fh if ln.strip()]
    file_acts = [a for a in acts if a.get("add") or a.get("remove")]
    assert file_acts and all(
        not (a.get("add") or a.get("remove"))["dataChange"]
        for a in file_acts
    )
    # and the lead commitInfo names the operation
    assert acts[0].get("commitInfo", {}).get("operation") == "OPTIMIZE"
    files, _m, _v, _t, _p = delta_snapshot(spark, table)
    per_dir = {}
    for rel in files:
        d = os.path.dirname(rel)
        per_dir[d] = per_dir.get(d, 0) + 1
    assert max(per_dir.values()) <= 2  # target per partition dir

    # DELETE then OPTIMIZE: the second compaction MATERIALIZES the DV
    delta_delete(spark, table, "k % 5 = 0")
    want = [k for k in range(40) if k % 5 != 0]
    assert sorted(r["k"] for r in read_delta(spark, table).collect()) == want
    v_before = delta_snapshot(spark, table)[2]
    v_mat = delta_optimize(spark, table, target_files=2)
    files, _m, _v, _t, _p = delta_snapshot(spark, table)
    assert not any(a.get("deletionVector") for a in files.values()), (
        "optimize must materialize deletion vectors"
    )
    assert sorted(r["k"] for r in read_delta(spark, table).collect()) == want
    # feed across the compaction nets to zero (balanced pairs)
    feed, _ = delta_changes_feed(spark, table, v_before)
    from collections import Counter
    bal = Counter()
    for r in feed.collect():
        bal[r["k"]] += 1 if r["_change_type"] == "insert" else -1
    assert all(v == 0 for v in bal.values())

    # idempotent: nothing left to compact
    assert delta_optimize(spark, table, target_files=2) == v_mat

    # VACUUM: dry run lists the superseded bytes; the real run
    # reclaims them and the snapshot still reads exactly
    candidates = delta_vacuum(spark, table, retention_ms=0,
                              dry_run=True)
    assert candidates, "superseded generations must be reclaimable"
    reclaimed = delta_vacuum(spark, table, retention_ms=0)
    assert sorted(reclaimed) == sorted(candidates)
    assert sorted(r["k"] for r in read_delta(spark, table).collect()) == want
    # the old DV sidecar was unreferenced after materialization
    assert not [
        n for n in os.listdir(table)
        if n.startswith("deletion_vector_")
    ]


def test_column_mapped_tail_and_feed(spark, tmp_path):
    """Round-10 graduation: tailing and change-feeding a column-
    mapping 'name' table works — physical names resolve underneath,
    logical columns come out (both were refusals)."""
    import json as _json

    from time_series_prediction_spark.sources.deltalog import (
        delta_changes_feed,
        delta_changes_since,
        delta_delete,
    )

    table = str(tmp_path / "t")
    os.makedirs(table)
    schema = {
        "type": "struct",
        "fields": [
            {"name": "k", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.id": 1,
                          "delta.columnMapping.physicalName": "col-aaa"}},
            {"name": "p", "type": "integer", "nullable": True,
             "metadata": {"delta.columnMapping.id": 2,
                          "delta.columnMapping.physicalName": "col-ppp"}},
        ],
    }
    meta = _meta(_json.dumps(schema), part_cols=["p"])
    meta["metaData"]["configuration"] = {
        "delta.columnMapping.mode": "name",
        "delta.columnMapping.maxColumnId": "2",
    }
    _write_parquet(spark, os.path.join(table, "A.parquet"),
                   [(i,) for i in range(5)], "`col-aaa` long")
    _commit(table, 0, [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        meta,
        _add("A.parquet", pvals={"col-ppp": "1"}),
    ])
    got, v = delta_changes_since(spark, table, -1)
    assert v == 0
    rows = sorted((r["k"], r["p"]) for r in got.collect())
    assert rows == [(i, 1) for i in range(5)]

    # append under mapping, tail the window
    _write_parquet(spark, os.path.join(table, "B.parquet"),
                   [(i,) for i in range(5, 8)], "`col-aaa` long")
    _commit(table, 1, [_add("B.parquet", pvals={"col-ppp": "2"})])
    got2, v2 = delta_changes_since(spark, table, v)
    assert sorted((r["k"], r["p"]) for r in got2.collect()) == [
        (5, 2), (6, 2), (7, 2)
    ]

    # DV delete on the mapped table, then the CHANGE FEED delivers it
    delta_delete(spark, table, "k >= 6")
    feed, v3 = delta_changes_feed(spark, table, v2)
    assert v3 == 2
    assert sorted(
        (r["k"], r["_change_type"]) for r in feed.collect()
    ) == [(6, "delete"), (7, "delete")]


def test_vacuum_retention_clocks_from_the_tombstone(spark, tmp_path):
    """The retention window measures from the REMOVE action's
    deletionTimestamp — a file created long ago but superseded just
    now must survive a retention-window vacuum (an mtime clock would
    reclaim it immediately and break in-window readers/time travel);
    retention 0 then reclaims it."""
    import time

    from time_series_prediction_spark.sources.deltalog import (
        delta_vacuum,
        write_delta_log,
    )

    table = str(tmp_path / "t")
    write_delta_log(
        spark.range(10).select(F.col("id").alias("k")), table,
        mode="overwrite",
    )
    # age the data files' mtimes far past any retention window
    old = time.time() - 30 * 24 * 3600
    for root, _dirs, names in os.walk(table):
        for n in names:
            if n.endswith(".parquet") and "_delta_log" not in root:
                os.utime(os.path.join(root, n), (old, old))
    # supersede them NOW
    write_delta_log(
        spark.range(10, 15).select(F.col("id").alias("k")), table,
        mode="overwrite",
    )
    kept = delta_vacuum(spark, table, retention_ms=3600 * 1000,
                        dry_run=True)
    assert kept == [], (
        "files superseded within the window must be protected "
        f"(would reclaim {kept})"
    )
    reclaimed = delta_vacuum(spark, table, retention_ms=0)
    assert reclaimed, "past the window the tombstoned files reclaim"
    assert sorted(
        r["k"] for r in read_delta(spark, table).collect()
    ) == list(range(10, 15))


def test_write_delta_log_schema_evolution(spark, tmp_path):
    """Schema discipline on the native sink (round 10; silently
    appending a drifted batch used to commit files the recorded
    metaData could not see): an ADDITIVE append evolves the metaData
    (old files read the new column as null), a type change or dropped
    column refuses, and an overwrite replaces the schema outright."""
    from time_series_prediction_spark.sources.deltalog import (
        delta_snapshot,
        write_delta_log,
    )

    table = str(tmp_path / "t")
    write_delta_log(
        spark.range(3).select(F.col("id").alias("k")), table,
        mode="overwrite",
    )
    # additive evolution: new nullable column appends to the schema
    write_delta_log(
        spark.range(3, 5).select(
            F.col("id").alias("k"), F.lit("x").alias("tag")
        ),
        table, mode="append",
    )
    got = read_delta(spark, table)
    assert got.columns == ["k", "tag"]
    rows = sorted((r["k"], r["tag"]) for r in got.collect())
    assert rows == [(0, None), (1, None), (2, None), (3, "x"), (4, "x")]
    # time travel before the evolution still shows the old shape
    assert read_delta(spark, table, version=0).columns == ["k"]

    # non-additive drift refuses honestly
    with pytest.raises(ValueError, match="additive"):
        write_delta_log(
            spark.range(5, 6).select(
                F.col("id").cast("string").alias("k")
            ),
            table, mode="append",
        )
    with pytest.raises(ValueError, match="additive"):
        write_delta_log(
            spark.range(5, 6).select(F.col("id").alias("other")),
            table, mode="append",
        )

    # overwrite replaces data AND schema (overwriteSchema semantics)
    write_delta_log(
        spark.range(9, 11).select(
            (F.col("id") * 2).alias("v2")
        ),
        table, mode="overwrite",
    )
    got2 = read_delta(spark, table)
    assert got2.columns == ["v2"]
    assert sorted(r["v2"] for r in got2.collect()) == [18, 20]
    _f, meta, _v, _t, _p = delta_snapshot(spark, table)
    assert '"v2"' in meta["schemaString"]


# ---------------------------------------------------------------- r11


def test_commit_put_if_absent_conflict(spark, tmp_path):
    """Two writers racing the same version must conflict LOUDLY: the
    loser raises ``DeltaConcurrentCommit`` with its actions unapplied
    and the winner's commit byte-identical — a plain overwrite write
    here silently lost a committed batch's adds/removes (round-10
    ADVICE)."""
    from time_series_prediction_spark.sources.deltalog import (
        DeltaConcurrentCommit,
        _commit_json,
        write_delta_log,
    )
    from time_series_prediction_spark.sources.fsops import fs_for

    table = str(tmp_path / "t")
    write_delta_log(
        spark.range(3).select(F.col("id").alias("k")), table
    )
    fs = fs_for(spark, table)
    _commit_json(fs, table, 1, [_add("WINNER.parquet")])
    before = open(
        os.path.join(table, "_delta_log", f"{1:020d}.json")
    ).read()
    with pytest.raises(DeltaConcurrentCommit, match="concurrent"):
        _commit_json(fs, table, 1, [_add("LOSER.parquet")])
    after = open(
        os.path.join(table, "_delta_log", f"{1:020d}.json")
    ).read()
    assert after == before and "WINNER" in after
    # the loser's staging file was cleaned up
    strays = [
        n for n in os.listdir(os.path.join(table, "_delta_log"))
        if n.startswith(".commit-")
    ]
    assert strays == []


def test_checkpoint_preserves_dv_protocol_config(spark, tmp_path):
    """``write_checkpoint`` must persist the snapshot's REAL state:
    checkpoint a DV-bearing table, delete the whole JSON history, and
    the snapshot reconstructed from the checkpoint ALONE still hides
    the deleted rows, keeps the feature protocol, and keeps the
    metaData configuration — the previous hardcoded v1/v2 checkpoint
    resurrected deletes and downgraded the protocol (round-10
    ADVICE)."""
    from time_series_prediction_spark.sources.deltalog import (
        delta_delete,
        delta_snapshot,
        read_delta_log,
        write_checkpoint,
        write_delta_log,
    )

    table = str(tmp_path / "t")
    df = spark.range(20).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    write_delta_log(df, table)
    delta_delete(spark, table, "k >= 15")
    v = write_checkpoint(spark, table, clean_old_commits=True)
    assert v == 1
    log = os.path.join(table, "_delta_log")
    assert not any(
        n.endswith(".json") and n[:20].isdigit() for n in os.listdir(log)
    )
    got = read_delta_log(spark, table)
    assert sorted(r["k"] for r in got.collect()) == list(range(15))
    files, meta, _v, _txns, proto = delta_snapshot(spark, table)
    assert "deletionVectors" in (proto.get("readerFeatures") or [])
    assert "deletionVectors" in (proto.get("writerFeatures") or [])
    assert int(proto["minReaderVersion"]) == 3
    assert isinstance(meta.get("configuration"), dict)
    # the DV descriptors themselves survived the roundtrip
    cards = sum(
        int((a.get("deletionVector") or {}).get("cardinality") or 0)
        for a in files.values()
    )
    assert cards == 5


def test_checkpoint_preserves_column_mapping(spark, tmp_path):
    """Checkpointing a column-mapped table must keep the
    configuration map — losing ``delta.columnMapping.mode`` would
    make the reader resolve PHYSICAL names as logical ones after the
    JSON history is cleaned."""
    import json as _json

    from time_series_prediction_spark.sources.deltalog import (
        read_delta_log,
        write_checkpoint,
    )

    table = str(tmp_path / "t")
    os.makedirs(table)
    schema = {
        "type": "struct",
        "fields": [
            {"name": "k", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.id": 1,
                          "delta.columnMapping.physicalName": "col-aaa"}},
        ],
    }
    _write_parquet(spark, os.path.join(table, "A.parquet"),
                   [(i,) for i in range(4)], "`col-aaa` long")
    meta = _meta(_json.dumps(schema))
    meta["metaData"]["configuration"] = {
        "delta.columnMapping.mode": "name",
        "delta.columnMapping.maxColumnId": "1",
    }
    _commit(table, 0, [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        meta,
        _add("A.parquet"),
    ])
    write_checkpoint(spark, table, clean_old_commits=True)
    got = read_delta_log(spark, table)
    assert got.columns == ["k"]
    assert sorted(r["k"] for r in got.collect()) == [0, 1, 2, 3]


def test_optimize_column_mapped_name_mode(spark, tmp_path):
    """OPTIMIZE on a 'name'-mode table (round-10 refusal, removed):
    the rewrite lands under PHYSICAL column names and physical-keyed
    partitionValues, DVs are materialized away, and the mapped reader
    sees the same rows before and after."""
    import json as _json

    from time_series_prediction_spark.sources.deltalog import (
        delta_delete,
        delta_optimize,
        delta_snapshot,
        delta_vacuum,
    )

    table = str(tmp_path / "t")
    os.makedirs(table)
    schema = {
        "type": "struct",
        "fields": [
            {"name": "k", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.id": 1,
                          "delta.columnMapping.physicalName": "col-aaa"}},
            {"name": "p", "type": "integer", "nullable": True,
             "metadata": {"delta.columnMapping.id": 2,
                          "delta.columnMapping.physicalName": "col-ppp"}},
        ],
    }
    for i, name in enumerate(["A.parquet", "B.parquet"]):
        _write_parquet(
            spark, os.path.join(table, name),
            [(j,) for j in range(i * 10, i * 10 + 10)],
            "`col-aaa` long",
        )
    meta = _meta(_json.dumps(schema), part_cols=["p"])
    meta["metaData"]["configuration"] = {
        "delta.columnMapping.mode": "name",
        "delta.columnMapping.maxColumnId": "2",
    }
    _commit(table, 0, [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        meta,
        _add("A.parquet", pvals={"col-ppp": "1"}),
        _add("B.parquet", pvals={"col-ppp": "2"}),
    ])
    delta_delete(spark, table, "k in (3, 14)")
    v = delta_optimize(spark, table, target_files=1)
    assert v == 2
    got = read_delta_log(spark, table)
    assert got.columns == ["k", "p"]
    rows = sorted(map(tuple, got.collect()))
    expect = sorted(
        [(j, 1) for j in range(10) if j != 3]
        + [(j, 2) for j in range(10, 20) if j != 14]
    )
    assert rows == expect
    # DVs were materialized away and the new files are physical-named
    files, _m, _v2, _t, _p = delta_snapshot(spark, table)
    assert not any(a.get("deletionVector") for a in files.values())
    assert all("col-ppp=" in rel for rel in files)
    # vacuum past retention reclaims the originals; reads still good
    delta_vacuum(spark, table, retention_ms=0)
    assert sorted(map(tuple, read_delta_log(spark, table).collect())) \
        == expect


def test_append_type_widening(spark, tmp_path):
    """Type-widening append (Delta's typeWidening feature subset):
    a wider batch widens the recorded schema — old narrower files
    read through it natively; a NARROWER batch is not drift at all;
    unsafe changes still refuse; time travel keeps the old shape."""
    from time_series_prediction_spark.sources.deltalog import (
        delta_snapshot,
        read_delta_log,
        write_delta_log,
    )

    table = str(tmp_path / "t")
    write_delta_log(
        spark.range(3).selectExpr(
            "cast(id as int) as k", "cast(id as float) as x"
        ),
        table,
    )
    write_delta_log(
        spark.range(3, 6).selectExpr(
            "cast(id as long) as k", "cast(id as double) as x"
        ),
        table, mode="append",
    )
    got = read_delta_log(spark, table)
    assert dict(got.dtypes) == {"k": "bigint", "x": "double"}
    assert sorted(r["k"] for r in got.collect()) == [0, 1, 2, 3, 4, 5]
    proto = delta_snapshot(spark, table)[4]
    assert "typeWidening" in (proto.get("readerFeatures") or [])
    # narrower batch: files read through the existing wider schema,
    # and NO metaData action is burned (schema unchanged)
    meta_before = delta_snapshot(spark, table)[1]["schemaString"]
    write_delta_log(
        spark.range(6, 9).selectExpr(
            "cast(id as int) as k", "cast(id as float) as x"
        ),
        table, mode="append",
    )
    got = read_delta_log(spark, table)
    assert dict(got.dtypes) == {"k": "bigint", "x": "double"}
    assert sorted(r["k"] for r in got.collect()) == list(range(9))
    assert delta_snapshot(spark, table)[1]["schemaString"] == meta_before
    # unsafe change still refused
    with pytest.raises(ValueError, match="changed types"):
        write_delta_log(
            spark.range(1).selectExpr(
                "cast(id as string) as k", "cast(id as double) as x"
            ),
            table, mode="append",
        )
    # time travel keeps the narrow shape
    old = read_delta_log(spark, table, version=0)
    assert dict(old.dtypes) == {"k": "int", "x": "float"}


def test_cumulative_dv_bound_auto_compacts(spark, tmp_path):
    """Many small deletes must not accumulate DV positions without
    bound (every read pays an O(total positions) driver
    materialization — round-10 VERDICT): past ``max_total_dv_rows``
    the delete auto-OPTIMIZEs, so the table NEVER serves a read with
    more than the threshold's positions."""
    from time_series_prediction_spark.sources.deltalog import (
        delta_delete,
        delta_snapshot,
        read_delta_log,
        write_delta_log,
    )

    table = str(tmp_path / "t")
    write_delta_log(
        spark.range(100).select(F.col("id").alias("k")), table
    )
    bound = 10
    for lo in range(0, 12, 3):  # four 3-row deletes: 3,6,9 then 12>10
        delta_delete(
            spark, table, f"k >= {lo} and k < {lo + 3}",
            max_total_dv_rows=bound,
        )
        files, *_ = delta_snapshot(spark, table)
        card = sum(
            int((a.get("deletionVector") or {}).get("cardinality") or 0)
            for a in files.values()
        )
        assert card <= bound
    # the last delete crossed the bound: DVs were materialized away
    files, *_ = delta_snapshot(spark, table)
    assert not any(a.get("deletionVector") for a in files.values())
    got = read_delta_log(spark, table)
    assert sorted(r["k"] for r in got.collect()) == list(range(12, 100))


def test_auto_checkpoint_bounds_log_replay(spark, tmp_path, monkeypatch):
    """Long-lived tables checkpoint automatically every K commits, so
    snapshot resolution parses ≤K JSON files however many commits the
    table accumulates: after deleting EVERY pre-checkpoint commit the
    table still reads (the replay never needed them)."""
    import time_series_prediction_spark.sources.deltalog as dl

    monkeypatch.setattr(dl, "DELTA_AUTO_CHECKPOINT_EVERY", 8)
    table = str(tmp_path / "t")
    for i in range(18):  # versions 0..17 — auto-checkpoints at 8, 16
        dl.write_delta_log(
            spark.range(i, i + 1).select(F.col("id").alias("k")),
            table, mode="overwrite" if i == 0 else "append",
        )
    log = os.path.join(table, "_delta_log")
    assert f"{8:020d}.checkpoint.parquet" in os.listdir(log)
    assert f"{16:020d}.checkpoint.parquet" in os.listdir(log)
    for n in list(os.listdir(log)):
        if n.endswith(".json") and n[:20].isdigit() and int(n[:20]) <= 16:
            os.remove(os.path.join(log, n))
    got = dl.read_delta_log(spark, table)
    assert sorted(r["k"] for r in got.collect()) == list(range(18))


def test_read_paths_resolve_qualified_table_path(spark, tmp_path):
    """A ``file:``-qualified (or otherwise differently-qualified)
    table path must still attach partitionValues and apply DVs: the
    broadcast-join keys resolve through the SAME FileSystem the scan
    uses (round-10 ADVICE — raw caller paths silently missed the
    join, resurrecting deleted rows with no error)."""
    from time_series_prediction_spark.sources.deltalog import (
        delta_changes_feed,
        delta_delete,
        read_delta_log,
        write_delta_log,
    )

    table = str(tmp_path / "t")
    df = spark.range(10).selectExpr(
        "id as k", "cast(id % 2 as int) as p"
    )
    write_delta_log(df, table, partition_cols=["p"])
    delta_delete(spark, table, "k >= 8")
    for qualified in (f"file:{table}", f"file://{table}"):
        got = read_delta_log(spark, qualified)
        rows = sorted((r["k"], r["p"]) for r in got.collect())
        assert rows == [(i, i % 2) for i in range(8)]
        feed, _latest = delta_changes_feed(spark, qualified, 0)
        assert feed is not None
        deletes = sorted(
            r["k"] for r in feed.collect()
            if r["_change_type"] == "delete"
        )
        assert deletes == [8, 9]


def test_append_to_column_mapped_table_lands_physical_names(
    spark, tmp_path
):
    """Appending to a column-mapped table must land PHYSICAL-named
    files: the same-schema append previously slipped past the
    evolution gate and wrote logical-named files that read back
    all-null through the mapped scan (silent corruption). Additive
    evolution on a mapped table assigns fresh physical names + the
    next column ids, exactly delta-spark's mergeSchema."""
    import json as _json

    from time_series_prediction_spark.sources.deltalog import (
        delta_snapshot,
        read_delta_log,
        write_delta_log,
    )

    table = str(tmp_path / "t")
    os.makedirs(table)
    schema = {
        "type": "struct",
        "fields": [
            {"name": "k", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.id": 1,
                          "delta.columnMapping.physicalName": "col-aaa"}},
        ],
    }
    _write_parquet(spark, os.path.join(table, "A.parquet"),
                   [(i,) for i in range(3)], "`col-aaa` long")
    meta = _meta(_json.dumps(schema))
    meta["metaData"]["configuration"] = {
        "delta.columnMapping.mode": "name",
        "delta.columnMapping.maxColumnId": "1",
    }
    _commit(table, 0, [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        meta,
        _add("A.parquet"),
    ])
    # same-schema append: batch carries LOGICAL names
    write_delta_log(
        spark.range(3, 6).select(F.col("id").alias("k")),
        table, mode="append",
    )
    got = read_delta_log(spark, table)
    assert sorted(r["k"] for r in got.collect()) == [0, 1, 2, 3, 4, 5]
    assert got.where(F.col("k").isNull()).count() == 0
    # additive evolution: new column v gets a fresh physical name/id
    write_delta_log(
        spark.range(6, 8).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        ),
        table, mode="append",
    )
    got = read_delta_log(spark, table)
    assert got.columns == ["k", "v"]
    rows = sorted((r["k"], r["v"]) for r in got.collect())
    assert rows == [(i, None) for i in range(6)] + [(6, 12), (7, 14)]
    _f, m, _v, _t, _p = delta_snapshot(spark, table)
    sch = json.loads(m["schemaString"])
    vf = next(f for f in sch["fields"] if f["name"] == "v")
    assert vf["metadata"]["delta.columnMapping.id"] == 2
    assert vf["metadata"]["delta.columnMapping.physicalName"].startswith(
        "col-"
    )
    assert (
        m["configuration"]["delta.columnMapping.maxColumnId"] == "2"
    )


def test_append_to_id_mode_table_lands_field_ids(spark, tmp_path):
    """Appends to an 'id'-mode table land files whose columns carry
    parquet field ids (and physical names), so the id-resolving
    reader sees every batch."""
    import json as _json

    import pyarrow as pa

    from time_series_prediction_spark.sources.deltalog import (
        read_delta_log,
        write_delta_log,
    )

    table = str(tmp_path / "t")
    os.makedirs(table)
    _write_parquet_field_ids(
        os.path.join(table, "A.parquet"),
        [("junk_a", 1, pa.int64(), [0, 1])],
    )
    schema = {
        "type": "struct",
        "fields": [
            {"name": "k", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.id": 1,
                          "delta.columnMapping.physicalName": "col-aaa"}},
        ],
    }
    meta = _meta(_json.dumps(schema))
    meta["metaData"]["configuration"] = {
        "delta.columnMapping.mode": "id",
        "delta.columnMapping.maxColumnId": "1",
    }
    _commit(table, 0, [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        meta,
        _add("A.parquet"),
    ])
    write_delta_log(
        spark.range(2, 5).select(F.col("id").alias("k")),
        table, mode="append",
    )
    got = read_delta_log(spark, table)
    assert sorted(r["k"] for r in got.collect()) == [0, 1, 2, 3, 4]


def test_big_delete_on_mapped_table_rewrites(spark, tmp_path):
    """A rewrite-shaped delete on a column-mapped table takes the
    overwrite path like any other (previously it fell through to an
    unbounded DV because the sink couldn't land physical-named
    rewrites): the surviving rows commit as physical-named files, no
    deletion vector reaches the table state, and the mapped reader
    sees exactly the survivors."""
    import json as _json

    from time_series_prediction_spark.sources.deltalog import (
        delta_delete,
        delta_snapshot,
        read_delta_log,
    )

    table = str(tmp_path / "t")
    os.makedirs(table)
    schema = {
        "type": "struct",
        "fields": [
            {"name": "k", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.id": 1,
                          "delta.columnMapping.physicalName": "col-aaa"}},
        ],
    }
    _write_parquet(spark, os.path.join(table, "A.parquet"),
                   [(i,) for i in range(100)], "`col-aaa` long")
    meta = _meta(_json.dumps(schema))
    meta["metaData"]["configuration"] = {
        "delta.columnMapping.mode": "name",
        "delta.columnMapping.maxColumnId": "1",
    }
    _commit(table, 0, [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        meta,
        _add("A.parquet"),
    ])
    v = delta_delete(spark, table, "k < 90", max_dv_rows=10)
    assert v == 1
    files, _m, _v, _t, _p = delta_snapshot(spark, table)
    assert not any(a.get("deletionVector") for a in files.values())
    got = read_delta_log(spark, table)
    assert sorted(r["k"] for r in got.collect()) == list(range(90, 100))


def test_delta_merge_upserts_via_dv(spark, tmp_path):
    """MERGE on the native log: matched rows are hidden by deletion
    vectors and the update batch lands as new files in ONE commit —
    updates replace, inserts append, untouched rows survive; VERSION
    AS OF shows the pre-merge state; a replayed txn batch is skipped;
    duplicate update keys refuse."""
    from time_series_prediction_spark.sources.deltalog import (
        delta_merge,
        delta_snapshot,
        read_delta_log,
        write_delta_log,
    )

    table = str(tmp_path / "t")
    write_delta_log(
        spark.range(10).selectExpr("id as k", "id * 10 as v"), table
    )
    upd = spark.createDataFrame(
        [(3, -3), (7, -7), (40, -40)], "k long, v long"
    )
    ver = delta_merge(spark, table, upd, key="k", txn=("app", 0))
    assert ver == 1
    got = {r["k"]: r["v"] for r in read_delta_log(spark, table).collect()}
    want = {i: i * 10 for i in range(10)}
    want.update({3: -3, 7: -7, 40: -40})
    assert got == want
    # pre-merge state intact under time travel
    old = {r["k"]: r["v"]
           for r in read_delta_log(spark, table, version=0).collect()}
    assert old == {i: i * 10 for i in range(10)}
    # the matched rows live as DV positions, not rewrites
    files, _m, _v, _t, _p = delta_snapshot(spark, table)
    assert sum(
        int((a.get("deletionVector") or {}).get("cardinality") or 0)
        for a in files.values()
    ) == 2
    # replayed micro-batch: same (appId, version) is a no-op
    ver2 = delta_merge(spark, table, upd, key="k", txn=("app", 0))
    assert ver2 == 1
    assert {
        r["k"]: r["v"] for r in read_delta_log(spark, table).collect()
    } == want
    # ambiguous multi-match refuses
    dup = spark.createDataFrame([(1, 0), (1, 1)], "k long, v long")
    with pytest.raises(ValueError, match="duplicate"):
        delta_merge(spark, table, dup, key="k")


def test_delta_merge_big_batch_rewrites(spark, tmp_path):
    """A merge matching more than max_dv_rows commits as ONE
    overwrite of (table minus keys) union updates — no oversized DV
    reaches the table state."""
    from time_series_prediction_spark.sources.deltalog import (
        delta_merge,
        delta_snapshot,
        read_delta_log,
        write_delta_log,
    )

    table = str(tmp_path / "t")
    write_delta_log(
        spark.range(100).selectExpr("id as k", "id as v"), table
    )
    upd = spark.range(80).selectExpr("id as k", "-id as v")
    delta_merge(spark, table, upd, key="k", max_dv_rows=10)
    files, _m, _v, _t, _p = delta_snapshot(spark, table)
    assert not any(a.get("deletionVector") for a in files.values())
    got = {r["k"]: r["v"] for r in read_delta_log(spark, table).collect()}
    assert got == {
        **{i: -i for i in range(80)},
        **{i: i for i in range(80, 100)},
    }


def test_delta_restore_rolls_back_deletes_and_appends(spark, tmp_path):
    """RESTORE TO VERSION commits the old snapshot forward: deletes
    roll back (including deletion-vector growth), later appends drop,
    history stays intact, and restoring past the vacuum horizon
    refuses instead of silently under-restoring."""
    from time_series_prediction_spark.sources.deltalog import (
        delta_delete,
        delta_restore,
        delta_vacuum,
        read_delta_log,
        write_delta_log,
    )

    table = str(tmp_path / "t")
    write_delta_log(
        spark.range(10).selectExpr("id as k"), table
    )                                            # v0
    delta_delete(spark, table, "k >= 8")         # v1: DV delete
    write_delta_log(
        spark.range(100, 103).selectExpr("id as k"),
        table, mode="append",
    )                                            # v2: append
    v = delta_restore(spark, table, 0)           # v3: back to v0
    assert v == 3
    got = sorted(r["k"] for r in read_delta_log(spark, table).collect())
    assert got == list(range(10))
    # history preserved: the pre-restore head still reads
    mid = sorted(
        r["k"] for r in read_delta_log(spark, table, version=2).collect()
    )
    assert mid == list(range(8)) + [100, 101, 102]
    # idempotent shape: restoring to the current state is a no-op
    assert delta_restore(spark, table, 3) == 3
    # vacuum the v2 append's bytes, then RESTORE to v2 must refuse
    delta_vacuum(spark, table, retention_ms=0)
    with pytest.raises(ValueError, match="vacuum"):
        delta_restore(spark, table, 2)


def test_delta_merge_sink_exactly_once(spark, tmp_path):
    """Streaming MERGE sink: each micro-batch upserts exactly once —
    a replayed batch (Structured Streaming re-runs the last batch
    after a crash) is recognized by its txn token and skipped, so the
    table state equals the batch sequence applied once."""
    from time_series_prediction_spark.sources.deltalog import (
        delta_merge_sink,
        delta_snapshot,
        read_delta_log,
    )

    table = str(tmp_path / "t")
    sink = delta_merge_sink(table, app_id="upsert-app", key="k")
    b0 = spark.createDataFrame(
        [(i, i * 10) for i in range(5)], "k long, v long"
    )
    b1 = spark.createDataFrame(
        [(3, -3), (4, -4), (5, -5)], "k long, v long"
    )
    sink(b0, 0)
    sink(b1, 1)
    want = {0: 0, 1: 10, 2: 20, 3: -3, 4: -4, 5: -5}
    assert {
        r["k"]: r["v"] for r in read_delta_log(spark, table).collect()
    } == want
    v_before = delta_snapshot(spark, table)[2]
    sink(b1, 1)  # crash-replay of the last batch
    assert delta_snapshot(spark, table)[2] == v_before
    assert {
        r["k"]: r["v"] for r in read_delta_log(spark, table).collect()
    } == want


def test_vacuum_reclaims_crashed_commit_debris(spark, tmp_path):
    """A writer that died between staging and renaming its commit (or
    mid-checkpoint) leaves hidden debris in _delta_log — invisible to
    readers, reclaimed by VACUUM past the retention horizon."""
    from time_series_prediction_spark.sources.deltalog import (
        delta_vacuum,
        read_delta_log,
        write_delta_log,
    )

    table = str(tmp_path / "t")
    write_delta_log(spark.range(5).selectExpr("id as k"), table)
    log = os.path.join(table, "_delta_log")
    open(os.path.join(log, ".commit-00000000000000000001-dead.json.tmp"),
         "w").write("{}")
    os.makedirs(os.path.join(log, ".cp-999"))
    reclaimed = delta_vacuum(spark, table, retention_ms=0)
    assert any(".commit-" in p for p in reclaimed)
    assert any(".cp-999" in p for p in reclaimed)
    assert sorted(
        r["k"] for r in read_delta_log(spark, table).collect()
    ) == [0, 1, 2, 3, 4]


def test_append_refuses_parameterized_type_changes(spark, tmp_path):
    """Types sharing a typeName are NOT interchangeable: a decimal
    precision/scale change (and any array/struct element change) must
    refuse — treating them as 'no change' would land files the
    recorded read schema mis-decodes."""
    from time_series_prediction_spark.sources.deltalog import (
        write_delta_log,
    )

    table = str(tmp_path / "t")
    write_delta_log(
        spark.range(3).selectExpr(
            "cast(id as decimal(10, 2)) as d", "id as k"
        ),
        table,
    )
    with pytest.raises(ValueError, match="changed types"):
        write_delta_log(
            spark.range(3, 6).selectExpr(
                "cast(id as decimal(12, 4)) as d", "id as k"
            ),
            table, mode="append",
        )
    with pytest.raises(ValueError, match="changed types"):
        write_delta_log(
            spark.range(3).selectExpr(
                "cast(id as string) as d", "id as k"
            ),
            table, mode="append",
        )


def test_concurrent_delta_writers_both_commit(spark, tmp_path):
    """Two DELETEs racing the same table: the version-race loser
    re-plans over the fresh snapshot and retries (the CoW rebase
    contract), so BOTH mutations land and neither overwrites the
    other's commit — the put-if-absent commit makes a lost update
    structurally impossible."""
    import threading

    from time_series_prediction_spark.sources.deltalog import (
        delta_delete,
        read_delta_log,
        write_delta_log,
    )

    table = str(tmp_path / "t")
    write_delta_log(
        spark.range(100).selectExpr("id as k"), table
    )
    errs = []

    def _del(pred):
        try:
            delta_delete(spark, table, pred, max_retries=8)
        except Exception as e:  # noqa: BLE001 — surface in main thread
            errs.append(e)

    ts = [
        threading.Thread(target=_del, args=("k < 10",)),
        threading.Thread(target=_del, args=("k >= 90",)),
    ]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert errs == []
    got = sorted(r["k"] for r in read_delta_log(spark, table).collect())
    assert got == list(range(10, 90))


def test_delta_shallow_clone_diverges_without_copy(spark, tmp_path):
    """SHALLOW CLONE: the clone's v0 references the source snapshot's
    files by absolute path (zero bytes copied — no parquet lands under
    the clone), source DV descriptors re-point at absolute sidecars,
    and the clone then diverges freely (its own DV delete + append)
    while the source stays byte-identical. The clone's VACUUM lists
    only its own directory, so it can never reclaim source bytes."""
    import glob

    from time_series_prediction_spark.sources.deltalog import (
        delta_clone,
        delta_delete,
        delta_vacuum,
        read_delta_log,
        write_delta_log,
    )

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    write_delta_log(
        spark.range(20).selectExpr("id as k"), src
    )
    delta_delete(spark, src, "k >= 18")  # source carries a DV
    delta_clone(spark, src, dst)
    # zero data files under the clone
    assert glob.glob(os.path.join(dst, "*.parquet")) == []
    got = sorted(r["k"] for r in read_delta_log(spark, dst).collect())
    assert got == list(range(18))
    # clone diverges: DV delete + append, source untouched
    delta_delete(spark, dst, "k < 5")
    write_delta_log(
        spark.range(100, 103).selectExpr("id as k"),
        dst, mode="append",
    )
    got = sorted(r["k"] for r in read_delta_log(spark, dst).collect())
    assert got == list(range(5, 18)) + [100, 101, 102]
    src_rows = sorted(
        r["k"] for r in read_delta_log(spark, src).collect()
    )
    assert src_rows == list(range(18))
    # clone vacuum reclaims nothing of the source's
    before = set(glob.glob(os.path.join(src, "*")))
    delta_vacuum(spark, dst, retention_ms=0)
    assert set(glob.glob(os.path.join(src, "*"))) == before
    assert sorted(
        r["k"] for r in read_delta_log(spark, src).collect()
    ) == list(range(18))
    # cloning onto an existing table refuses
    with pytest.raises(ValueError, match="already a table"):
        delta_clone(spark, src, dst)


def test_commit_info_and_history(spark, tmp_path):
    """Every commit leads with a commitInfo action (timestamp +
    operation); delta_history reads them back and TIMESTAMP AS OF
    resolves against the commitInfo clock even when file mtimes are
    disturbed (a copy/restore resets mtime, not the log contents)."""
    from time_series_prediction_spark.sources.deltalog import (
        delta_delete,
        delta_history,
        delta_merge,
        delta_optimize,
        version_at_timestamp,
        write_delta_log,
    )

    table = str(tmp_path / "t")
    write_delta_log(spark.range(30).selectExpr("id as k", "id as v"),
                    table)
    delta_delete(spark, table, "k >= 28")
    delta_merge(
        spark, table,
        spark.createDataFrame([(1, -1)], "k long, v long"), key="k",
    )
    delta_optimize(spark, table, target_files=1)
    hist = delta_history(spark, table)
    assert [h["version"] for h in hist] == [0, 1, 2, 3]
    assert [h["operation"] for h in hist] == [
        "OVERWRITE", "DELETE", "MERGE", "OPTIMIZE"
    ]
    assert all(h["timestamp"] is not None for h in hist)
    assert hist[0]["n_adds"] >= 1 and hist[1]["n_removes"] >= 1
    # timestampAsOf uses the commitInfo clock, not mtime: smash mtimes
    log = os.path.join(table, "_delta_log")
    for n in os.listdir(log):
        if n.endswith(".json"):
            os.utime(os.path.join(log, n), (0, 0))  # epoch mtimes
    assert version_at_timestamp(
        spark, table, hist[-1]["timestamp"]
    ) == 3
    assert version_at_timestamp(
        spark, table, hist[0]["timestamp"]
    ) >= 0


def test_stats_pruned_read(spark, tmp_path):
    """add.stats data skipping: commits record per-file min/max
    (footer metadata, driver-side at commit time), read_delta_pruned
    drops files whose stats exclude the range BEFORE the scan plan
    exists, results match the full scan + WHERE, and the stats
    survive a checkpoint roundtrip."""
    from time_series_prediction_spark.sources.deltalog import (
        delta_snapshot,
        read_delta_log,
        read_delta_pruned,
        write_checkpoint,
        write_delta_log,
    )

    table = str(tmp_path / "t")
    df = (
        spark.range(1000)
        .selectExpr("id as k", "id * 2 as v")
        .repartitionByRange(4, "k")
    )
    write_delta_log(df, table)
    files, _m, _v, _t, _p = delta_snapshot(spark, table)
    assert len(files) == 4
    assert all(a.get("stats") for a in files.values())
    pruned = read_delta_pruned(spark, table, {"k": (100, 120)})
    assert len(pruned.inputFiles()) < 4
    got = sorted(
        r["k"] for r in pruned.where("k between 100 and 120").collect()
    )
    assert got == list(range(100, 121))
    full = sorted(
        r["k"] for r in read_delta_log(spark, table)
        .where("k between 100 and 120").collect()
    )
    assert got == full
    # stats survive the checkpoint: history gone, pruning still works
    write_checkpoint(spark, table, clean_old_commits=True)
    pruned2 = read_delta_pruned(spark, table, {"k": (100, 120)})
    assert len(pruned2.inputFiles()) < 4
    assert sorted(
        r["k"] for r in pruned2.where("k between 100 and 120").collect()
    ) == got


def test_optimize_zorder_enables_pruning(spark, tmp_path):
    """OPTIMIZE ZORDER BY: a randomly-clustered table's range query
    must scan every file (each file's stats span the key domain);
    after the z-order rewrite the same read_delta_pruned call plans a
    strict subset of files, rows identical, commit pure-layout
    (dataChange=false)."""
    from time_series_prediction_spark.sources.deltalog import (
        delta_optimize,
        read_delta_log,
        read_delta_pruned,
        write_delta_log,
    )

    table = str(tmp_path / "t")
    # random clustering: repartition by hash so every file spans the
    # whole key range — stats can exclude nothing
    df = (
        spark.range(2000)
        .selectExpr("id as k", "id * 3 as v")
        .repartition(6, "v")
    )
    write_delta_log(df, table)
    before = read_delta_pruned(spark, table, {"k": (100, 160)})
    assert len(before.inputFiles()) == 6
    want = sorted(
        (r["k"], r["v"]) for r in read_delta_log(spark, table)
        .where("k between 100 and 160").collect()
    )
    v = delta_optimize(spark, table, target_files=6, zorder_by=["k"])
    after = read_delta_pruned(spark, table, {"k": (100, 160)})
    assert 0 < len(after.inputFiles()) < 6
    got = sorted(
        (r["k"], r["v"]) for r in after
        .where("k between 100 and 160").collect()
    )
    assert got == want
    # pure layout: the zorder commit is invisible to tails
    with open(
        os.path.join(table, "_delta_log", f"{v:020d}.json")
    ) as fh:
        acts = [json.loads(ln) for ln in fh if ln.strip()]
    assert all(
        not (a.get("add") or a.get("remove"))["dataChange"]
        for a in acts if a.get("add") or a.get("remove")
    )


def test_dv_spill_distributed_anti_join(spark, tmp_path, monkeypatch):
    """Past _DV_SPILL_MIN summed cardinality, the DV anti-join side
    must come from a content-addressed parquet spill under the log dir
    (shared storage — distributed-scan-able), NOT a per-read driver
    materialization: the first read publishes the spill, a REPEAT read
    parses zero bitmaps (proven by making the parser explode), time
    travel keeps its own state's spill, and VACUUM reclaims superseded
    spills while protecting the live one."""
    import time_series_prediction_spark.sources.deltalog as dl

    monkeypatch.setattr(dl, "_DV_SPILL_MIN", 5)
    table = str(tmp_path / "t")
    df = spark.range(100).select(
        F.col("id").alias("k"),
        (F.col("id") % 4).cast("int").alias("p"),
    )
    dl.write_delta_log(df, table, mode="overwrite", partition_cols=["p"])
    dl.delta_delete(spark, table, "k % 7 = 0", max_total_dv_rows=None)
    want = sorted(k for k in range(100) if k % 7 != 0)

    got = sorted(r["k"] for r in dl.read_delta_log(spark, table).collect())
    assert got == want
    cache = os.path.join(table, "_delta_log", dl._DV_POS_CACHE)
    spills_v1 = [n for n in os.listdir(cache) if n.endswith(".parquet")]
    assert len(spills_v1) == 1

    # repeat read: the spill serves; no bitmap is ever parsed again
    def _boom(*a, **kw):
        raise AssertionError("bitmap parsed on a spill-cached read")

    monkeypatch.setattr(dl, "_dv_positions", _boom)
    got2 = sorted(
        r["k"] for r in dl.read_delta_log(spark, table).collect()
    )
    assert got2 == want
    monkeypatch.undo()
    monkeypatch.setattr(dl, "_DV_SPILL_MIN", 5)

    # a second delete changes the DV state -> a second spill appears,
    # and time travel to v1 still reads through the OLD spill
    dl.delta_delete(spark, table, "k % 11 = 0", max_total_dv_rows=None)
    want2 = sorted(k for k in range(100) if k % 7 != 0 and k % 11 != 0)
    assert sorted(
        r["k"] for r in dl.read_delta_log(spark, table).collect()
    ) == want2
    assert sorted(
        r["k"] for r in dl.read_delta_log(spark, table, version=1).collect()
    ) == want
    spills_v2 = [n for n in os.listdir(cache) if n.endswith(".parquet")]
    assert len(spills_v2) == 2

    # vacuum with zero retention: the superseded spill goes, the one
    # addressing the CURRENT snapshot's DV state survives any age
    reclaimed = dl.delta_vacuum(spark, table, retention_ms=0)
    live = set(os.listdir(cache))
    assert len([n for n in live if n.endswith(".parquet")]) == 1
    assert set(spills_v1) - live  # the old spill was reclaimed
    assert any(dl._DV_POS_CACHE in p for p in reclaimed)
    assert sorted(
        r["k"] for r in dl.read_delta_log(spark, table).collect()
    ) == want2


def test_delta_update_dv_path(spark, tmp_path):
    """UPDATE ... SET via deletion vectors: matched rows are hidden
    and their updated images land in the SAME commit (old files never
    rewritten), every SET expression sees the ORIGINAL row, time
    travel keeps the pre-update state, and a second update composes."""
    import time_series_prediction_spark.sources.deltalog as dl

    table = str(tmp_path / "t")
    df = spark.range(100).select(
        F.col("id").alias("k"),
        (F.col("id") % 4).cast("int").alias("p"),
        (F.col("id") * 3).alias("v"),
    )
    dl.write_delta_log(df, table, mode="overwrite", partition_cols=["p"])
    files0 = set(dl.delta_snapshot(spark, table)[0])

    v1 = dl.delta_update(
        spark, table, "k % 10 = 0", {"v": "v + k"}
    )
    assert v1 == 1
    got = {r["k"]: r["v"] for r in dl.read_delta_log(spark, table).collect()}
    assert len(got) == 100
    for k in range(100):
        assert got[k] == (k * 3 + k if k % 10 == 0 else k * 3), k
    # original files all still referenced (DV mutation, not rewrite)
    files1 = set(dl.delta_snapshot(spark, table)[0])
    assert files0 <= files1
    # time travel: pre-update values intact
    old = {r["k"]: r["v"]
           for r in dl.read_delta_log(spark, table, version=0).collect()}
    assert old[0] == 0 and old[10] == 30
    # second update over already-updated rows composes
    dl.delta_update(spark, table, "k = 0", {"v": "v * 2"})
    got2 = {r["k"]: r["v"]
            for r in dl.read_delta_log(spark, table).collect()}
    assert got2[0] == 0 and got2[10] == 40 and len(got2) == 100
    # nothing matched: no commit burned
    v_before = dl.delta_snapshot(spark, table)[2]
    assert dl.delta_update(spark, table, "k = -5", {"v": "0L"}) == v_before


def test_delta_update_guards_and_rewrite_path(spark, tmp_path):
    """Wide matches take the CASE-WHEN overwrite (no DV reaches the
    table), type drift and unknown SET columns are refused, and
    updating a PARTITION column migrates rows across partition dirs."""
    import pytest as _pytest

    import time_series_prediction_spark.sources.deltalog as dl

    table = str(tmp_path / "t")
    df = spark.range(50).select(
        F.col("id").alias("k"),
        (F.col("id") % 2).cast("int").alias("p"),
        (F.col("id") * 3).alias("v"),
    )
    dl.write_delta_log(df, table, mode="overwrite", partition_cols=["p"])
    with _pytest.raises(ValueError, match="not in the table"):
        dl.delta_update(spark, table, "k = 1", {"nope": "1"})
    with _pytest.raises(ValueError, match="type drift refused"):
        dl.delta_update(spark, table, "k = 1", {"v": "'text'"})
    # rewrite path: every row matches, max_dv_rows forces overwrite
    dl.delta_update(
        spark, table, "k >= 0", {"v": "v + 1"}, max_dv_rows=5
    )
    files, *_ = dl.delta_snapshot(spark, table)
    assert not any(a.get("deletionVector") for a in files.values())
    got = {r["k"]: r["v"] for r in dl.read_delta_log(spark, table).collect()}
    assert got == {k: k * 3 + 1 for k in range(50)}
    # partition-column update: rows migrate dirs, values correct
    dl.delta_update(
        spark, table, "k < 10", {"p": "CAST(3 AS INT)"}
    )
    out = dl.read_delta_log(spark, table)
    assert out.where("p = 3").count() == 10
    assert out.count() == 50


def test_delta_update_column_mapped(spark, tmp_path):
    """UPDATE on a column-mapping 'name' table: the predicate and SET
    run against logical names, updated rows land under physical names,
    and the mapped reader sees the new values."""
    import json as _json

    import time_series_prediction_spark.sources.deltalog as dl

    table = str(tmp_path / "t")
    os.makedirs(table)
    schema = {
        "type": "struct",
        "fields": [
            {"name": "k", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.id": 1,
                          "delta.columnMapping.physicalName": "col-aaa"}},
            {"name": "v", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.id": 2,
                          "delta.columnMapping.physicalName": "col-bbb"}},
        ],
    }
    _write_parquet(
        spark, os.path.join(table, "A.parquet"),
        [(i, i * 3) for i in range(20)], "`col-aaa` long, `col-bbb` long",
    )
    meta = _meta(_json.dumps(schema))
    meta["metaData"]["configuration"] = {
        "delta.columnMapping.mode": "name",
        "delta.columnMapping.maxColumnId": "2",
    }
    _commit(table, 0, [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        meta,
        _add("A.parquet"),
    ])
    dl.delta_update(spark, table, "k % 5 = 0", {"v": "v - k"})
    got = {r["k"]: r["v"] for r in dl.read_delta_log(spark, table).collect()}
    assert len(got) == 20
    for k in range(20):
        assert got[k] == (k * 2 if k % 5 == 0 else k * 3), k
    # the landed update file carries PHYSICAL column names
    files, *_ = dl.delta_snapshot(spark, table)
    new_rel = [r for r in files if r != "A.parquet"]
    assert new_rel
    import pyarrow.parquet as _pq

    names = set()
    for rel in new_rel:
        names |= set(
            _pq.read_schema(os.path.join(table, rel)).names
        )
    assert names <= {"col-aaa", "col-bbb"}


def test_check_constraints_gate_every_writer(spark, tmp_path):
    """ADD CONSTRAINT records delta.constraints.* + the writer-only
    protocol feature (readers untouched), every write surface
    (append, merge, update) refuses violating batches with the
    constraint named, conforming writes land, and DROP CONSTRAINT
    lifts the gate."""
    import pytest as _pytest

    import time_series_prediction_spark.sources.deltalog as dl

    table = str(tmp_path / "t")
    df = spark.range(1, 21).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    )
    dl.write_delta_log(df, table, mode="overwrite")
    v = dl.delta_add_constraint(spark, table, "v_pos", "v > 0")
    assert v == 1
    _f, meta, _v, _t, proto = dl.delta_snapshot(spark, table)
    assert meta["configuration"]["delta.constraints.v_pos"] == "v > 0"
    assert proto["minWriterVersion"] == 3
    assert int(proto.get("minReaderVersion", 1)) == 1  # readers untouched

    bad = spark.createDataFrame([(100, -1)], "k long, v long")
    with _pytest.raises(ValueError, match="v_pos"):
        dl.write_delta_log(bad, table, mode="append")
    with _pytest.raises(ValueError, match="v_pos"):
        dl.delta_merge(spark, table, bad, key="k")
    with _pytest.raises(ValueError, match="v_pos"):
        dl.delta_update(spark, table, "k = 1", {"v": "-5L"})
    # NULL result passes (SQL CHECK semantics), TRUE passes
    ok = spark.createDataFrame([(101, 7), (102, None)], "k long, v long")
    dl.write_delta_log(ok, table, mode="append")
    assert dl.read_delta_log(spark, table).count() == 22

    # a second constraint on existing data must VALIDATE it first
    with _pytest.raises(ValueError, match="existing table data"):
        dl.delta_add_constraint(spark, table, "k_small", "k < 50")
    with _pytest.raises(ValueError, match="already exists"):
        dl.delta_add_constraint(spark, table, "v_pos", "v > 1")

    dl.delta_drop_constraint(spark, table, "v_pos")
    with _pytest.raises(ValueError, match="no constraint"):
        dl.delta_drop_constraint(spark, table, "v_pos")
    dl.write_delta_log(bad, table, mode="append")  # gate lifted
    assert dl.read_delta_log(spark, table).count() == 23


def test_check_constraint_on_feature_protocol_table(spark, tmp_path):
    """On a table already carrying v3/v7 feature protocols (a DV
    write), ADD CONSTRAINT unions checkConstraints into
    writerFeatures without perturbing reader fields or existing
    features; the update path enforces through the DV machinery."""
    import pytest as _pytest

    import time_series_prediction_spark.sources.deltalog as dl

    table = str(tmp_path / "t")
    df = spark.range(30).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    dl.write_delta_log(df, table, mode="overwrite")
    dl.delta_delete(spark, table, "k = 29")  # protocol -> v3/v7
    dl.delta_add_constraint(spark, table, "v_even", "v % 2 = 0")
    _f, _m, _v, _t, proto = dl.delta_snapshot(spark, table)
    assert proto["minReaderVersion"] == 3
    assert "checkConstraints" in proto["writerFeatures"]
    assert "deletionVectors" in proto["writerFeatures"]
    assert "deletionVectors" in proto["readerFeatures"]
    with _pytest.raises(ValueError, match="v_even"):
        dl.delta_update(spark, table, "k = 1", {"v": "v + 1"})
    dl.delta_update(spark, table, "k = 1", {"v": "v + 2"})
    got = {r["k"]: r["v"] for r in dl.read_delta_log(spark, table).collect()}
    assert got[1] == 4 and 29 not in got


def test_generated_columns_compute_validate_and_update(spark, tmp_path):
    """GENERATED ALWAYS AS: declaring validates existing data; appends
    OMITTING the column get it computed (including a generated
    PARTITION column); appends carrying wrong values are refused;
    UPDATE recomputes generated columns from the post-SET row and
    refuses SETting them directly; protocol gains the writer-only
    generatedColumns feature."""
    import pytest as _pytest

    import time_series_prediction_spark.sources.deltalog as dl

    table = str(tmp_path / "t")
    df = spark.range(10).select(
        F.col("id").alias("k"),
        (F.col("id") * 2).alias("v"),
        (F.col("id") % 3).cast("int").alias("bucket"),
    )
    dl.write_delta_log(df, table, mode="overwrite", partition_cols=["bucket"])
    with _pytest.raises(ValueError, match="disagree"):
        dl.delta_set_generated_column(spark, table, "bucket", "CAST(k % 4 AS INT)")
    v = dl.delta_set_generated_column(spark, table, "bucket", "CAST(k % 3 AS INT)")
    _f, _m, _v, _t, proto = dl.delta_snapshot(spark, table)
    assert proto["minWriterVersion"] == 4
    assert int(proto.get("minReaderVersion", 1)) == 1

    # append WITHOUT the generated partition column: computed + landed
    dl.write_delta_log(
        spark.createDataFrame([(100, 7), (101, 9)], "k long, v long"),
        table, mode="append", partition_cols=["bucket"],
    )
    got = {r["k"]: r["bucket"] for r in dl.read_delta_log(spark, table).collect()}
    assert got[100] == 100 % 3 and got[101] == 101 % 3 and len(got) == 12
    # append CARRYING a wrong value: refused, named
    bad = spark.createDataFrame([(200, 1, 0)], "k long, v long, bucket int")
    with _pytest.raises(ValueError, match="generated-column mismatch"):
        dl.write_delta_log(bad, table, mode="append", partition_cols=["bucket"])
    # merge omitting the generated column computes it too
    dl.delta_merge(
        spark, table,
        spark.createDataFrame([(100, 70)], "k long, v long"),
        key="k",
    )
    got = {r["k"]: (r["v"], r["bucket"])
           for r in dl.read_delta_log(spark, table).collect()}
    assert got[100] == (70, 1)
    # UPDATE: SET an input -> generated col recomputes; SET the
    # generated col itself -> refused
    with _pytest.raises(ValueError, match="generated column"):
        dl.delta_update(spark, table, "k = 100", {"bucket": "2"})
    dl.delta_update(spark, table, "k = 100", {"k": "102L"})
    got = {r["k"]: r["bucket"] for r in dl.read_delta_log(spark, table).collect()}
    assert 100 not in got and got[102] == 0
    assert v == 1


def test_append_only_table_refuses_every_mutation(spark, tmp_path):
    """delta.appendOnly=true: DELETE / UPDATE / row-matching MERGE /
    overwrite / RESTORE refuse; appends, pure-insert merges, and
    dataChange=false maintenance (OPTIMIZE) stay allowed; UNSET
    re-enables mutations."""
    import pytest as _pytest

    import time_series_prediction_spark.sources.deltalog as dl

    table = str(tmp_path / "t")
    df = spark.range(10).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    dl.write_delta_log(df, table, mode="overwrite")
    dl.delta_set_table_property(spark, table, "delta.appendOnly", "true")
    for op in [
        lambda: dl.delta_delete(spark, table, "k = 1"),
        lambda: dl.delta_update(spark, table, "k = 1", {"v": "0L"}),
        lambda: dl.delta_merge(
            spark, table,
            spark.createDataFrame([(1, 9)], "k long, v long"), key="k",
        ),
        lambda: dl.write_delta_log(df, table, mode="overwrite"),
        lambda: dl.delta_restore(spark, table, 0),
    ]:
        with _pytest.raises(ValueError, match="append-only"):
            op()
    # appends and PURE-INSERT merges still land
    dl.write_delta_log(
        spark.createDataFrame([(100, 1)], "k long, v long"),
        table, mode="append",
    )
    dl.delta_merge(
        spark, table,
        spark.createDataFrame([(200, 2)], "k long, v long"), key="k",
    )
    assert dl.read_delta_log(spark, table).count() == 12
    dl.delta_optimize(spark, table, target_files=1)
    assert dl.read_delta_log(spark, table).count() == 12
    # unset lifts the gate
    dl.delta_set_table_property(spark, table, "delta.appendOnly", None)
    dl.delta_delete(spark, table, "k = 100")
    assert dl.read_delta_log(spark, table).count() == 11


def test_identity_column_assignment_and_hwm(spark, tmp_path):
    """GENERATED ALWAYS AS IDENTITY: declaring initializes the high
    watermark from existing data and stamps the writer-only feature;
    appends must OMIT the column and get unique step-aligned values
    above the watermark; the watermark advances per commit so two
    appends never collide; explicit inserts are refused."""
    import pytest as _pytest

    import time_series_prediction_spark.sources.deltalog as dl

    table = str(tmp_path / "t")
    df = spark.range(1, 6).select(
        F.col("id").alias("rid"), (F.col("id") * 10).alias("v")
    )
    dl.write_delta_log(df, table, mode="overwrite")
    with _pytest.raises(ValueError, match="not in the table"):
        dl.delta_set_identity_column(spark, table, "nope")
    dl.delta_set_identity_column(spark, table, "rid", start=1, step=2)
    _f, _m, _v, _t, proto = dl.delta_snapshot(spark, table)
    assert proto["minWriterVersion"] == 6
    assert int(proto.get("minReaderVersion", 1)) == 1

    with _pytest.raises(ValueError, match="explicit insert"):
        dl.write_delta_log(
            spark.createDataFrame([(99, 1)], "rid long, v long"),
            table, mode="append",
        )
    dl.write_delta_log(
        spark.createDataFrame([(100,), (200,), (300,)], "v long"),
        table, mode="append",
    )
    dl.write_delta_log(
        spark.createDataFrame([(400,), (500,)], "v long"),
        table, mode="append",
    )
    rows = dl.read_delta_log(spark, table).collect()
    rids = [r["rid"] for r in rows]
    assert len(rids) == len(set(rids)) == 10  # unique, nothing lost
    new = sorted(r["rid"] for r in rows if r["v"] >= 100)
    assert all(rid > 5 for rid in new)        # above the initial hwm
    assert all((rid - 5) % 2 == 0 for rid in new)  # step-aligned
    # second batch strictly above the first batch's watermark
    b1 = {r["rid"] for r in rows if r["v"] in (100, 200, 300)}
    b2 = {r["rid"] for r in rows if r["v"] in (400, 500)}
    assert min(b2) > max(b1)


def test_legacy_invariants_enforced_on_append(spark, tmp_path):
    """A table created by a legacy writer with delta.invariants field
    metadata (writer v2) gets its invariant enforced by this sink:
    violating appends refuse with the invariant named, conforming
    appends land."""
    import json as _json

    import pytest as _pytest

    import time_series_prediction_spark.sources.deltalog as dl

    table = str(tmp_path / "t")
    os.makedirs(table)
    schema = {
        "type": "struct",
        "fields": [
            {"name": "k", "type": "long", "nullable": True,
             "metadata": {}},
            {"name": "v", "type": "long", "nullable": True,
             "metadata": {"delta.invariants": _json.dumps(
                 {"expression": {"expression": "v >= 0"}})}},
        ],
    }
    _write_parquet(
        spark, os.path.join(table, "A.parquet"),
        [(1, 5), (2, 7)], "k long, v long",
    )
    _commit(table, 0, [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        _meta(_json.dumps(schema)),
        _add("A.parquet"),
    ])
    with _pytest.raises(ValueError, match="invariant_v"):
        dl.write_delta_log(
            spark.createDataFrame([(3, -1)], "k long, v long"),
            table, mode="append",
        )
    dl.write_delta_log(
        spark.createDataFrame([(3, 9)], "k long, v long"),
        table, mode="append",
    )
    assert dl.read_delta_log(spark, table).count() == 3


def test_optimize_zorder_partitioned_table(spark, tmp_path):
    """OPTIMIZE ZORDER BY on a Hive-partitioned table (was an honest
    refusal): rows survive exactly, every partition dir is rewritten
    dataChange=false, within-dir files carry clustered z ranges so a
    range predicate prunes files through read_delta_pruned, and
    z-ordering BY a partition column is refused."""
    import pytest as _pytest

    import time_series_prediction_spark.sources.deltalog as dl

    table = str(tmp_path / "t")
    # values deliberately landed UNCLUSTERED: id mod spreads every
    # value range across every initial file
    df = spark.range(4000).select(
        (F.col("id") % 4).cast("int").alias("p"),
        ((F.col("id") * 7919) % 4000).alias("x"),
        F.col("id").alias("payload"),
    ).repartition(8)
    dl.write_delta_log(df, table, mode="overwrite", partition_cols=["p"])
    with _pytest.raises(ValueError, match="partition columns"):
        dl.delta_optimize(spark, table, zorder_by=["p"])
    v = dl.delta_optimize(spark, table, target_files=4, zorder_by=["x"])
    assert v == 1
    got = dl.read_delta_log(spark, table)
    assert got.count() == 4000
    assert got.select(F.sum("x")).first()[0] == sum(
        (i * 7919) % 4000 for i in range(4000)
    )
    files, *_ = dl.delta_snapshot(spark, table)
    dirs = {os.path.dirname(rel) for rel in files}
    assert len(dirs) == 4  # every partition dir present
    # z-clustering: a narrow x range must leave most files prunable
    # by their recorded stats
    pruned = dl.read_delta_pruned(spark, table, {"x": (0, 99)})
    import json as _json

    surviving = 0
    for add in files.values():
        st = _json.loads(add["stats"])
        if int(st["minValues"]["x"]) <= 99 and int(st["maxValues"]["x"]) >= 0:
            surviving += 1
    assert surviving < len(files) / 2, (surviving, len(files))
    # and the pruned read still returns every matching row
    assert pruned.where("x between 0 and 99").count() == got.where(
        "x between 0 and 99"
    ).count()


def test_dv_spill_falls_back_when_cache_unwritable(
    spark, tmp_path, monkeypatch
):
    """A READ must never fail because the spill cache could not be
    written (read-only table dir): when publishing raises, the read
    serves from the already-parsed driver relation instead."""
    import time_series_prediction_spark.sources.deltalog as dl

    monkeypatch.setattr(dl, "_DV_SPILL_MIN", 5)
    table = str(tmp_path / "t")
    dl.write_delta_log(
        spark.range(60).select(F.col("id").alias("k")), table
    )
    dl.delta_delete(spark, table, "k % 3 = 0", max_total_dv_rows=None)

    from time_series_prediction_spark.sources import fsops

    def _boom(self, p, data):
        raise PermissionError("read-only table dir")

    monkeypatch.setattr(fsops.Fs, "write_bytes", _boom)
    got = sorted(r["k"] for r in dl.read_delta_log(spark, table).collect())
    assert got == [k for k in range(60) if k % 3 != 0]
    cache = os.path.join(table, "_delta_log", dl._DV_POS_CACHE)
    assert not [
        n for n in (os.listdir(cache) if os.path.isdir(cache) else [])
        if n.endswith(".parquet")
    ]


def test_cdc_files_written_and_read_for_dml(spark, tmp_path):
    """With delta.enableChangeDataFeed=true, DELETE / UPDATE / MERGE
    record protocol cdc files under _change_data/ and delta_read_cdc
    serves per-commit changes from them VERBATIM — pre/post images for
    updates, verbatim inserts, typed deletes — on a partitioned table;
    folded to net inserts/deletes the cdc feed agrees with the
    snapshot-algebra feed; appends emit inserts without cdc files; a
    pre-CDF mutation window raises with the remedy."""
    import pytest as _pytest

    import time_series_prediction_spark.sources.deltalog as dl

    table = str(tmp_path / "t")
    df = spark.range(40).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("int").alias("p"),
        (F.col("id") * 2).alias("v"),
    )
    dl.write_delta_log(df, table, mode="overwrite", partition_cols=["p"])
    # a mutation BEFORE CDF is enabled: that window must refuse
    dl.delta_delete(spark, table, "k = 39")
    dl.delta_set_table_property(
        spark, table, "delta.enableChangeDataFeed", "true"
    )
    with _pytest.raises(ValueError, match="delta_changes_feed"):
        dl.delta_read_cdc(spark, table, 0)

    v_base = dl.delta_snapshot(spark, table)[2]  # CDF-on from here
    dl.delta_delete(spark, table, "k % 10 = 0")              # deletes
    dl.delta_update(spark, table, "k = 7", {"v": "v + 100"})  # update
    dl.delta_merge(                                           # upsert
        spark, table,
        spark.createDataFrame(
            [(1, 1, 999), (100, 1, 555)], "k long, p int, v long"
        ),
        key="k",
    )
    dl.write_delta_log(                                       # append
        spark.createDataFrame([(200, 2, 7)], "k long, p int, v long"),
        table, mode="append", partition_cols=["p"],
    )
    assert os.path.isdir(os.path.join(table, "_change_data"))

    feed, latest = dl.delta_read_cdc(spark, table, v_base)
    rows = [
        (r["k"], r["p"], r["v"], r["_change_type"], r["_commit_version"])
        for r in feed.collect()
    ]
    by_type: dict[str, set] = {}
    for k, p, v, ct, cv in rows:
        by_type.setdefault(ct, set()).add((k, p, v))
    assert by_type["delete"] == {
        (k, k % 3, k * 2) for k in range(39) if k % 10 == 0
    }
    assert (7, 1, 14) in by_type["update_preimage"]
    assert (7, 1, 114) in by_type["update_postimage"]
    assert (1, 1, 999) in by_type["update_postimage"]  # merge update
    assert (1, 1, 2) in by_type["update_preimage"]
    assert (100, 1, 555) in by_type["insert"]          # merge insert
    assert (200, 2, 7) in by_type["insert"]            # plain append
    # per-commit versions are stamped and increase
    assert {cv for *_x, cv in rows} == set(range(v_base + 1, latest + 1))

    # folded, cdc agrees with the snapshot-algebra feed
    alg, _ = dl.delta_changes_feed(spark, table, v_base)
    alg_net: dict[str, int] = {}
    for r in alg.collect():
        key = (r["k"], r["p"], r["v"])
        alg_net[key] = alg_net.get(key, 0) + (
            1 if r["_change_type"] == "insert" else -1
        )
    cdc_net: dict[str, int] = {}
    for k, p, v, ct, _cv in rows:
        delta = {
            "insert": 1, "update_postimage": 1,
            "delete": -1, "update_preimage": -1,
        }[ct]
        cdc_net[(k, p, v)] = cdc_net.get((k, p, v), 0) + delta
    assert {k: n for k, n in alg_net.items() if n} == {
        k: n for k, n in cdc_net.items() if n
    }


def test_cdc_files_vacuum_on_retention_clock(spark, tmp_path):
    """_change_data bytes survive any horizon while their commit JSON
    is retained (the CDC window IS the log retention window — r12
    ADVICE: reclaiming earlier made delta_read_cdc 404 mid-window)
    and reclaim once the referencing commits are cleaned."""
    import time_series_prediction_spark.sources.deltalog as dl

    table = str(tmp_path / "t")
    dl.write_delta_log(
        spark.range(20).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        ),
        table,
    )
    dl.delta_set_table_property(
        spark, table, "delta.enableChangeDataFeed", "true"
    )
    v0 = dl.delta_snapshot(spark, table)[2]
    dl.delta_delete(spark, table, "k < 5")
    kept = dl.delta_vacuum(spark, table, retention_ms=10**12)
    assert not any("_change_data" in p for p in kept)
    feed, _ = dl.delta_read_cdc(spark, table, v0)
    assert feed.where("_change_type = 'delete'").count() == 5
    still = dl.delta_vacuum(spark, table, retention_ms=0)
    assert not any("_change_data" in p for p in still)
    feed2, _ = dl.delta_read_cdc(spark, table, v0)
    assert feed2.where("_change_type = 'delete'").count() == 5
    dl.write_checkpoint(spark, table, clean_old_commits=True)
    gone = dl.delta_vacuum(spark, table, retention_ms=0)
    assert any("_change_data" in p for p in gone)


def test_write_checkpoint_v2_roundtrip(spark, tmp_path):
    """Writing a V2 (UUID + sidecar) checkpoint: the protocol gains
    the v2Checkpoint feature first (unioned, nothing clobbered), the
    snapshot reconstructs from checkpoint + sidecar alone after the
    JSON history is cleaned — DV descriptors, configuration, and txn
    tokens intact — and later commits still replay on top."""
    import time_series_prediction_spark.sources.deltalog as dl

    table = str(tmp_path / "t")
    df = spark.range(50).select(
        F.col("id").alias("k"),
        (F.col("id") % 2).cast("int").alias("p"),
        (F.col("id") * 3).alias("v"),
    )
    dl.write_delta_log(df, table, mode="overwrite", partition_cols=["p"])
    dl.delta_delete(spark, table, "k % 9 = 0")  # DV + feature protocol
    dl.write_delta_log(
        spark.createDataFrame([(100, 0, 1)], "k long, p int, v long"),
        table, mode="append", partition_cols=["p"],
        txn=("appX", 7),
    )
    v = dl.write_checkpoint_v2(spark, table, clean_old_commits=True)
    log = os.path.join(table, "_delta_log")
    names = os.listdir(log)
    assert any(
        n.startswith(f"{v:020d}.checkpoint.") and n.endswith(".parquet")
        and n.count(".") == 3
        for n in names
    )
    assert os.path.isdir(os.path.join(log, "_sidecars"))
    assert not [n for n in names if n.endswith(".json")]  # cleaned

    files, meta, v2, txns, proto = dl.delta_snapshot(spark, table)
    assert v2 == v
    assert "v2Checkpoint" in (proto.get("readerFeatures") or [])
    assert "deletionVectors" in (proto.get("readerFeatures") or [])
    assert txns.get("appX") == 7
    got = sorted(r["k"] for r in dl.read_delta_log(spark, table).collect())
    assert got == [k for k in range(50) if k % 9 != 0] + [100]
    # the table keeps working past the checkpoint
    dl.delta_delete(spark, table, "k = 100")
    assert dl.read_delta_log(spark, table).count() == len(got) - 1


def test_identity_dml_rewrite_paths(spark, tmp_path):
    """Rewrite-shaped DELETE / UPDATE / MERGE on an identity-column
    table commit through the trusted internal-rewrite path instead of
    tripping the explicit-insert refusal (round-12 ADVICE high:
    ``max_dv_rows`` exceeded used to raise 'explicit insert into
    identity column'); surviving rows keep their assigned identity
    values, and the watermark never walks backwards."""
    import time_series_prediction_spark.sources.deltalog as dl

    table = str(tmp_path / "t")
    dl.write_delta_log(
        spark.range(1, 11).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        ),
        table, mode="overwrite",
    )
    dl.delta_set_identity_column(spark, table, "k", start=1, step=1)

    # rewrite-shaped DELETE (max_dv_rows=0 forces the overwrite path)
    dl.delta_delete(spark, table, "v >= 90", max_dv_rows=0)
    rows = {r["k"]: r["v"] for r in
            dl.read_delta_log(spark, table).collect()}
    assert sorted(rows) == list(range(1, 9))

    # rewrite-shaped UPDATE keeps identity values intact
    dl.delta_update(
        spark, table, "k <= 2", {"v": "v + 1"}, max_dv_rows=0
    )
    rows = {r["k"]: r["v"] for r in
            dl.read_delta_log(spark, table).collect()}
    assert rows[1] == 11 and rows[2] == 21 and rows[8] == 80

    # watermark did not regress: the next append starts above 10
    # (the deleted ids 9,10 are never reused)
    dl.write_delta_log(
        spark.createDataFrame([(999,)], "v long"), table, mode="append"
    )
    new_k = [
        r["k"] for r in dl.read_delta_log(spark, table).collect()
        if r["v"] == 999
    ]
    assert new_k and new_k[0] > 10

    # rewrite-shaped MERGE (batch omits the identity column)
    upd = spark.createDataFrame([(12, 1), (999, 2)], "v long, tag long")
    # table has no 'tag' column — use (k-free) v as key is ambiguous;
    # instead merge on v with a fresh value batch
    dl.delta_merge(
        spark, table,
        spark.createDataFrame([(11,), (5555,)], "v long"),
        key="v", max_dv_rows=0,
    )
    rows = {r["v"]: r["k"] for r in
            dl.read_delta_log(spark, table).collect()}
    assert rows[11] == 1          # matched row kept its identity
    assert rows[5555] > 10        # insert generated above the hwm
    assert len(set(
        r["k"] for r in dl.read_delta_log(spark, table).collect()
    )) == dl.read_delta_log(spark, table).count()


def test_identity_merge_semantics(spark, tmp_path):
    """DV-path MERGE identity contract: the batch OMITS identity
    columns — matched keys keep their table values, inserts get fresh
    watermark-derived ones, and the watermark advances in the SAME
    commit (two consecutive insert-merges never collide). Carrying
    the column refuses; keying ON the identity column allows pure
    updates and refuses inserts; UPDATE SET on it refuses."""
    import time_series_prediction_spark.sources.deltalog as dl

    table = str(tmp_path / "t")
    dl.write_delta_log(
        spark.createDataFrame(
            [(1, 10, 100), (2, 20, 200), (3, 30, 300)],
            "rid long, k long, v long",
        ),
        table, mode="overwrite",
    )
    dl.delta_set_identity_column(spark, table, "rid", start=1, step=1)

    # batch carrying the identity column (not a key) refuses
    with pytest.raises(ValueError, match="carries identity"):
        dl.delta_merge(
            spark, table,
            spark.createDataFrame([(9, 10, 1)], "rid long, k long, v long"),
            key="k",
        )

    # DV-path merge: k=10,20 match (keep rid 1,2), k=40 inserts
    dl.delta_merge(
        spark, table,
        spark.createDataFrame(
            [(10, 101), (20, 202), (40, 400)], "k long, v long"
        ),
        key="k",
    )
    rows = {r["k"]: (r["rid"], r["v"]) for r in
            dl.read_delta_log(spark, table).collect()}
    assert rows[10] == (1, 101) and rows[20] == (2, 202)
    assert rows[30] == (3, 300)
    rid_40 = rows[40][0]
    assert rid_40 > 3  # generated above the watermark

    # watermark advanced IN the merge commit: the next insert-merge
    # lands strictly above rid_40
    dl.delta_merge(
        spark, table,
        spark.createDataFrame([(50, 500)], "k long, v long"),
        key="k",
    )
    rows2 = {r["k"]: r["rid"] for r in
             dl.read_delta_log(spark, table).collect()}
    assert rows2[50] > rid_40
    all_rids = list(rows2.values())
    assert len(all_rids) == len(set(all_rids))

    # keyed ON the identity column: pure update is fine...
    dl.delta_merge(
        spark, table,
        dl.read_delta_log(spark, table).where("k = 30")
        .withColumn("v", F.lit(303).cast("long")),
        key="rid",
    )
    assert dl.read_delta_log(spark, table).where(
        "k = 30 and v = 303"
    ).count() == 1
    # ...but an unmatched key (an explicit insert) refuses
    with pytest.raises(ValueError, match="keyed on an identity"):
        dl.delta_merge(
            spark, table,
            spark.createDataFrame(
                [(999999, 60, 600)], "rid long, k long, v long"
            ),
            key="rid",
        )

    # UPDATE SET on the identity column refuses
    with pytest.raises(ValueError, match="identity column"):
        dl.delta_update(spark, table, "k = 10", {"rid": "rid + 1"})

    # time travel shows ids only ever appended, never mutated
    v0 = dl.read_delta_log(spark, table, version=1)  # post-declare
    assert sorted(r["rid"] for r in v0.collect()) == [1, 2, 3]


def test_identity_negative_step(spark, tmp_path):
    """ADVICE r12 medium: with step < 0 the watermark tracks the MIN
    assigned value (declaration seeds from the column min; appends
    advance downward) — two appends never reassign the same ids."""
    import time_series_prediction_spark.sources.deltalog as dl

    table = str(tmp_path / "t")
    dl.write_delta_log(
        spark.createDataFrame([(100, 1), (98, 2)], "rid long, v long"),
        table, mode="overwrite",
    )
    dl.delta_set_identity_column(spark, table, "rid", start=100, step=-2)
    dl.write_delta_log(
        spark.createDataFrame([(10,), (11,)], "v long"),
        table, mode="append",
    )
    dl.write_delta_log(
        spark.createDataFrame([(12,), (13,)], "v long"),
        table, mode="append",
    )
    rows = dl.read_delta_log(spark, table).collect()
    rids = [r["rid"] for r in rows]
    assert len(rids) == len(set(rids)) == 6
    new = [r["rid"] for r in rows if r["v"] >= 10]
    assert all(rid < 98 for rid in new)          # below the seed min
    assert all((98 - rid) % 2 == 0 for rid in new)  # step-aligned
    b1 = {r["rid"] for r in rows if r["v"] in (10, 11)}
    b2 = {r["rid"] for r in rows if r["v"] in (12, 13)}
    assert max(b2) < min(b1)  # second batch strictly below the first


def test_vacuum_keeps_cdc_files_of_retained_commits(spark, tmp_path):
    """ADVICE r12 low: _change_data files referenced by RETAINED
    commit JSONs survive vacuum whatever their age — the CDC window
    is the log retention window, so delta_read_cdc over a
    still-listed version range must scan its files, not 404. Once
    the referencing commits are cleaned from the log, the orphaned
    cdc bytes reclaim."""
    import time_series_prediction_spark.sources.deltalog as dl

    table = str(tmp_path / "t")
    dl.write_delta_log(
        spark.range(20).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        ),
        table, mode="overwrite",
    )
    dl.delta_set_table_property(
        spark, table, "delta.enableChangeDataFeed", "true"
    )
    v_base = dl.delta_snapshot(spark, table)[2]
    dl.delta_delete(spark, table, "k % 5 = 0")
    dl.delta_update(spark, table, "k = 7", {"v": "v + 100"})
    cd = os.path.join(table, "_change_data")
    n_cdc = sum(len(fs) for _, _, fs in os.walk(cd))
    assert n_cdc >= 2

    # retention 0: every horizon passes, but the cdc files' commits
    # are still in the log — they must survive, and the feed still read
    reclaimed = dl.delta_vacuum(spark, table, retention_ms=0)
    assert not any("_change_data" in p for p in reclaimed)
    feed, _ = dl.delta_read_cdc(spark, table, v_base)
    assert feed.where("_change_type = 'delete'").count() == 4
    assert feed.where("_change_type = 'update_postimage'").count() == 1

    # clean the referencing commits: the cdc bytes are now orphaned
    dl.write_checkpoint(spark, table, clean_old_commits=True)
    reclaimed2 = dl.delta_vacuum(spark, table, retention_ms=0)
    assert any("_change_data" in p for p in reclaimed2)


def test_vacuum_spares_pruned_read_dv_spill(spark, tmp_path, monkeypatch):
    """ADVICE r12 low: a pruned read's DV anti-join side is keyed to
    the FULL-snapshot DV state, so vacuum's liveness check (which
    keeps exactly that key) can never reclaim a spill a
    lazily-evaluated pruned frame still references — and no
    subset-keyed spill files are created at all."""
    import time_series_prediction_spark.sources.deltalog as dl

    monkeypatch.setattr(dl, "_DV_SPILL_MIN", 50)
    table = str(tmp_path / "t")
    dl.write_delta_log(
        spark.range(1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        ),
        table, mode="overwrite",
    )
    dl.delta_delete(spark, table, "k % 3 = 0")  # ~333 DV positions
    # materialize the full-state spill once
    assert dl.read_delta_log(spark, table).count() == 666
    cache = os.path.join(table, "_delta_log", dl._DV_POS_CACHE)
    before = set(os.listdir(cache))
    assert len([n for n in before if n.endswith(".parquet")]) == 1

    # a lazy pruned frame, then a zero-retention vacuum, THEN collect
    pruned = dl.read_delta_pruned(spark, table, {"k": (100, 200)})
    reclaimed = dl.delta_vacuum(spark, table, retention_ms=0)
    assert not any(dl._DV_POS_CACHE in p for p in reclaimed)
    got = sorted(r["k"] for r in pruned.where("k between 100 and 200").collect())
    assert got == [k for k in range(100, 201) if k % 3 != 0]
    # no subset-keyed spill appeared: pruned reads share the one key
    assert set(os.listdir(cache)) == before


def test_concurrent_writer_conflict_and_retry(spark, tmp_path, monkeypatch):
    """VERDICT r12 #7: put-if-absent commits under a real version
    race — a competing append lands the DML's target version first;
    the DML's commit loses with DeltaConcurrentCommit (its actions
    unapplied), the retry loop re-plans over the fresh snapshot, and
    the final state carries BOTH writers' effects at v+2 with no
    lost actions."""
    import time_series_prediction_spark.sources.deltalog as dl

    table = str(tmp_path / "t")
    dl.write_delta_log(
        spark.range(10).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        ),
        table, mode="overwrite",
    )
    v0 = dl.delta_snapshot(spark, table)[2]

    orig = dl._commit_json
    state = {"raced": False, "conflicts": 0}

    def race(fs, path, version, actions, op=None, **kw):
        if op == "DELETE" and not state["raced"]:
            state["raced"] = True
            # writer B sneaks in and takes this exact version
            dl.write_delta_log(
                spark.createDataFrame([(-100, 1)], "k long, v long"),
                table, mode="append",
            )
        try:
            return orig(fs, path, version, actions, op=op, **kw)
        except dl.DeltaConcurrentCommit:
            state["conflicts"] += 1
            raise

    monkeypatch.setattr(dl, "_commit_json", race)
    v_final = dl.delta_delete(spark, table, "k >= 8")
    assert state["conflicts"] == 1          # the loser raised, loudly
    assert v_final == v0 + 2                # append took v+1, retry v+2
    rows = sorted(r["k"] for r in dl.read_delta_log(spark, table).collect())
    # both effects, nothing lost: the retry RE-PLANNED over the fresh
    # snapshot (the competitor's row is visible to the retried DELETE,
    # which it survives by predicate)
    assert rows == [-100] + list(range(8))

    # losing every retry surfaces the conflict instead of hanging
    def always_taken(fs, path, version, actions, op=None, **kw):
        if op == "DELETE":
            dl.write_delta_log(
                spark.createDataFrame([(200, 1)], "k long, v long"),
                table, mode="append",
            )
        return orig(fs, path, version, actions, op=op, **kw)

    monkeypatch.setattr(dl, "_commit_json", always_taken)
    with pytest.raises(dl.DeltaConcurrentCommit):
        dl.delta_delete(spark, table, "k = 0", max_retries=2)


def test_unwritable_dv_spill_fallback_above_threshold(
    spark, tmp_path, monkeypatch
):
    """VERDICT r12 #6: when the spill cache is unwritable (read-only
    table dir, permission boundary) a read past _DV_SPILL_MIN serves
    the already-parsed driver relation — correct rows, no spill file,
    no crash. The driver payload stays bounded by delta_delete's
    max_total_dv_rows auto-OPTIMIZE ceiling, which this table is
    under by construction."""
    import time_series_prediction_spark.sources.deltalog as dl

    monkeypatch.setattr(dl, "_DV_SPILL_MIN", 50)
    table = str(tmp_path / "t")
    dl.write_delta_log(
        spark.range(600).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        ),
        table, mode="overwrite",
    )
    dl.delta_delete(spark, table, "k % 2 = 0")  # 300 positions > MIN
    # occupy the cache path with a FILE: mkdirs/rename can't succeed
    cache = os.path.join(table, "_delta_log", dl._DV_POS_CACHE)
    assert not os.path.exists(cache)
    with open(cache, "w") as f:
        f.write("x")
    got = sorted(r["k"] for r in dl.read_delta_log(spark, table).collect())
    assert got == [k for k in range(600) if k % 2 == 1]
    assert os.path.isfile(cache)  # still the blocking file, no spill
    # pruned reads take the same fallback
    pruned = dl.read_delta_pruned(spark, table, {"k": (10, 20)})
    assert sorted(
        r["k"] for r in pruned.where("k between 10 and 20").collect()
    ) == [11, 13, 15, 17, 19]


def test_v2_checkpoint_column_mapped_dv_roundtrip(spark, tmp_path):
    """VERDICT r12 #5: a DV-bearing, column-mapped ('name' mode)
    table checkpointed as V2 (UUID manifest + sidecar) reconstructs
    purely from the manifest after every commit JSON is cleaned —
    logical column names, DV-hidden rows, and configuration intact —
    and _last_checkpoint carries the v2 pointer fields."""
    import json as _json

    import time_series_prediction_spark.sources.deltalog as dl

    table = str(tmp_path / "t")
    os.makedirs(table)
    schema = {
        "type": "struct",
        "fields": [
            {"name": "k", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.id": 1,
                          "delta.columnMapping.physicalName": "col-aaa"}},
            {"name": "v", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.id": 2,
                          "delta.columnMapping.physicalName": "col-bbb"}},
        ],
    }
    _write_parquet(
        spark, os.path.join(table, "A.parquet"),
        [(i, i * 2) for i in range(20)], "`col-aaa` long, `col-bbb` long",
    )
    meta = _meta(_json.dumps(schema))
    meta["metaData"]["configuration"] = {
        "delta.columnMapping.mode": "name",
        "delta.columnMapping.maxColumnId": "2",
    }
    _commit(table, 0, [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        meta,
        _add("A.parquet"),
    ])
    dl.delta_delete(spark, table, "k % 4 = 0")  # DV through the mapping
    v = dl.write_checkpoint_v2(spark, table, clean_old_commits=True)

    log = os.path.join(table, "_delta_log")
    assert not [n for n in os.listdir(log) if n.endswith(".json")]
    lc = _json.loads(open(os.path.join(log, "_last_checkpoint")).read())
    assert lc["version"] == v
    assert lc["numOfAddFiles"] == 1
    assert lc["sizeInBytes"] > 0
    assert lc["tags"]["flavor"] == "v2"
    assert lc["tags"]["fileName"].startswith(f"{v:020d}.checkpoint.")

    got = dl.read_delta_log(spark, table)
    assert got.columns == ["k", "v"]
    rows = sorted(map(tuple, got.collect()))
    assert rows == [(i, i * 2) for i in range(20) if i % 4 != 0]
    _files, meta2, _v, _t, proto = dl.delta_snapshot(spark, table)
    assert (meta2.get("configuration") or {}).get(
        "delta.columnMapping.mode"
    ) == "name"
    assert "v2Checkpoint" in (proto.get("readerFeatures") or [])
    # the table keeps working past the cleaned log
    dl.delta_delete(spark, table, "k = 1")
    assert dl.read_delta_log(spark, table).count() == 14


def _rt_read(spark, table, dl, version=None):
    rows = dl.read_delta_with_row_ids(spark, table, version).collect()
    return {r["k"]: (r["_row_id"], r["_row_commit_version"]) for r in rows}


def test_row_tracking_enable_append_delete(spark, tmp_path):
    """rowTracking (writer feature + domainMetadata HWM): enabling
    backfills every live file with a baseRowId (reader versions
    untouched — row tracking never gates reads); appends allocate
    fresh ids above the high-water mark (two appends never collide);
    a DV DELETE re-commits the same file carrying its original base,
    so surviving rows keep their ids."""
    import time_series_prediction_spark.sources.deltalog as dl

    table = str(tmp_path / "t")
    dl.write_delta_log(
        spark.range(10).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        ),
        table, mode="overwrite",
    )
    with pytest.raises(ValueError, match="not enabled"):
        dl.read_delta_with_row_ids(spark, table)
    v_en = dl.delta_enable_row_tracking(spark, table)
    assert dl.delta_enable_row_tracking(spark, table) == v_en  # idempotent
    _f, _m, _v, _t, proto, domains = dl.delta_snapshot_ex(spark, table)
    assert int(proto.get("minReaderVersion", 1)) == 1
    assert int(proto["minWriterVersion"]) == 7
    assert "rowTracking" in proto["writerFeatures"]
    assert "domainMetadata" in proto["writerFeatures"]
    assert dl._rt_hwm(domains) == 9

    ids = _rt_read(spark, table, dl)
    assert sorted(rid for rid, _ in ids.values()) == list(range(10))
    assert all(rcv == v_en for _, rcv in ids.values())

    # two appends: fresh, disjoint, above the watermark
    dl.write_delta_log(
        spark.createDataFrame([(100, 1), (101, 1)], "k long, v long"),
        table, mode="append",
    )
    dl.write_delta_log(
        spark.createDataFrame([(102, 1)], "k long, v long"),
        table, mode="append",
    )
    ids2 = _rt_read(spark, table, dl)
    new = {k: rid for k, (rid, _) in ids2.items() if k >= 100}
    assert len(set(new.values())) == 3 and min(new.values()) > 9
    assert ids2[102][0] > max(new[100], new[101])
    assert ids2[102][1] == v_en + 2  # creating commit stamped
    # pre-existing rows untouched
    assert all(ids2[k] == ids[k] for k in ids)

    # DV delete: survivors keep their ids
    dl.delta_delete(spark, table, "k in (3, 101)")
    ids3 = _rt_read(spark, table, dl)
    assert 3 not in ids3 and 101 not in ids3
    assert all(ids3[k] == ids2[k] for k in ids3)


def test_row_tracking_optimize_preserves_ids(spark, tmp_path):
    """OPTIMIZE is dataChange=false — it may NOT renumber rows: the
    compaction materializes each row's id and creating commit into
    physical columns of the new files (delta-spark's scheme), readers
    coalesce them over the fresh baseRowId, and later appends still
    allocate above the advanced watermark. The plain read stays
    clean: no materialized columns leak into the table schema."""
    import time_series_prediction_spark.sources.deltalog as dl

    table = str(tmp_path / "t")
    for i in range(4):  # 4 small files
        dl.write_delta_log(
            spark.createDataFrame(
                [(i * 10 + j, i) for j in range(5)], "k long, v long"
            ),
            table, mode="overwrite" if i == 0 else "append",
        )
    dl.delta_enable_row_tracking(spark, table)
    dl.delta_delete(spark, table, "k % 10 = 4")  # DVs to materialize
    before = _rt_read(spark, table, dl)

    v = dl.delta_optimize(spark, table, target_files=1)
    files, meta, _v, _t, _p, domains = dl.delta_snapshot_ex(spark, table)
    assert len(files) == 1
    after = _rt_read(spark, table, dl)
    assert after == before  # ids AND creating commits identical

    # the compacted add still got a fresh base and advanced the HWM:
    # the next append can never collide with materialized ids
    dl.write_delta_log(
        spark.createDataFrame([(999, 9)], "k long, v long"),
        table, mode="append",
    )
    final = _rt_read(spark, table, dl)
    assert final[999][0] > max(rid for rid, _ in before.values())
    assert len(set(rid for rid, _ in final.values())) == len(final)
    # plain read: table columns only
    assert dl.read_delta_log(spark, table).columns == ["k", "v"]


def test_row_tracking_checkpoint_merge_restore_clone(spark, tmp_path):
    """Row ids and the HWM domain survive checkpoints (classic AND
    V2) with the JSON history cleaned; MERGE allocates fresh ids for
    its landed rows and advances the HWM in the same commit; RESTORE
    rolls ids back with the files; CLONE carries ids and the HWM so
    appends to the clone stay collision-free."""
    import time_series_prediction_spark.sources.deltalog as dl

    table = str(tmp_path / "t")
    dl.write_delta_log(
        spark.range(8).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        ),
        table, mode="overwrite",
    )
    dl.delta_enable_row_tracking(spark, table)
    base_ids = _rt_read(spark, table, dl)

    # MERGE: k=1 matched (update), k=50 insert — both land fresh
    dl.delta_merge(
        spark, table,
        spark.createDataFrame([(1, 111), (50, 500)], "k long, v long"),
        key="k",
    )
    ids = _rt_read(spark, table, dl)
    assert ids[2] == base_ids[2]            # untouched row keeps id
    assert ids[1][0] > 7 and ids[50][0] > 7  # landed rows: fresh ids
    assert len(set(rid for rid, _ in ids.values())) == len(ids)

    # classic checkpoint + clean: state reconstructs with ids + HWM
    v_cp = dl.write_checkpoint(spark, table, clean_old_commits=True)
    assert _rt_read(spark, table, dl) == ids
    dl.write_delta_log(
        spark.createDataFrame([(60, 600)], "k long, v long"),
        table, mode="append",
    )
    ids2 = _rt_read(spark, table, dl)
    assert ids2[60][0] > max(rid for rid, _ in ids.values())

    # V2 checkpoint round-trip too (history kept: RESTORE below
    # time-travels to the classic checkpoint's version)
    dl.write_checkpoint_v2(spark, table, clean_old_commits=False)
    assert _rt_read(spark, table, dl) == ids2

    # RESTORE to the checkpointed (pre-append) version: the appended
    # row leaves, the remaining files' ids roll back verbatim
    dl.delta_restore(spark, table, v_cp)
    assert _rt_read(spark, table, dl) == ids

    # CLONE: ids and HWM carry; clone appends stay collision-free
    clone = str(tmp_path / "c")
    dl.delta_clone(spark, table, clone)
    assert _rt_read(spark, clone, dl) == ids
    dl.write_delta_log(
        spark.createDataFrame([(70, 700)], "k long, v long"),
        clone, mode="append",
    )
    cids = _rt_read(spark, clone, dl)
    # above EVERY id the source ever allocated (HWM carried, not
    # recomputed from the clone's live max)
    assert cids[70][0] > max(rid for rid, _ in ids2.values())
    assert len(set(rid for rid, _ in cids.values())) == len(cids)


def test_in_commit_timestamps(spark, tmp_path, monkeypatch):
    """delta.enableInCommitTimestamps: the enabling commit stamps the
    writer feature (v7, readers untouched) + the spec's enablement
    properties whose timestamp EQUALS that commit's
    inCommitTimestamp; every later commit's ICT is STRICTLY greater
    than its predecessor's even under a frozen wall clock (the
    clock-skew case the feature exists for); TIMESTAMP AS OF resolves
    against the monotone clock."""
    import time_series_prediction_spark.sources.deltalog as dl

    table = str(tmp_path / "t")
    dl.write_delta_log(
        spark.range(5).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        ),
        table,
    )

    def _icts():
        log = os.path.join(table, "_delta_log")
        out = {}
        for n in sorted(os.listdir(log)):
            if not (n.endswith(".json") and n[:20].isdigit()):
                continue
            with open(os.path.join(log, n)) as f:
                for line in f:
                    if '"commitInfo"' in line:
                        ci = json.loads(line)["commitInfo"]
                        out[int(n[:20])] = ci.get("inCommitTimestamp")
                        break
        return out

    v_en = dl.delta_set_table_property(
        spark, table, "delta.enableInCommitTimestamps", "true"
    )
    _f, meta, _v, _t, proto = dl.delta_snapshot(spark, table)
    assert "inCommitTimestamp" in (proto.get("writerFeatures") or [])
    assert int(proto["minWriterVersion"]) == 7
    assert int(proto.get("minReaderVersion", 1)) == 1
    conf = meta["configuration"]
    assert conf["delta.inCommitTimestampEnablementVersion"] == str(v_en)
    icts = _icts()
    assert icts[0] is None  # pre-enablement commit has no ICT
    assert icts[v_en] == int(
        conf["delta.inCommitTimestampEnablementTimestamp"]
    )

    # frozen clock: monotonicity must come from the chain, not time
    frozen = icts[v_en]  # freeze AT the enabling commit's instant
    monkeypatch.setattr(dl._time, "time", lambda: frozen / 1000.0)
    dl.write_delta_log(
        spark.createDataFrame([(10, 1)], "k long, v long"),
        table, mode="append",
    )
    dl.delta_delete(spark, table, "k = 0")
    dl.delta_update(spark, table, "k = 1", {"v": "v + 1"})
    icts = _icts()
    chain = [icts[i] for i in range(v_en, max(icts) + 1)]
    assert all(b > a for a, b in zip(chain, chain[1:]))

    # TIMESTAMP AS OF against the monotone clock
    assert dl.version_at_timestamp(spark, table, chain[1]) == v_en + 1
    assert (
        dl.version_at_timestamp(spark, table, chain[-1] + 5)
        == max(icts)
    )


def test_version_checksum_crc(spark, tmp_path):
    """Version checksums (<v>.crc): written on demand and at every
    checkpoint with the full aggregate state (sizes, file/DV counts,
    protocol, metadata, txn tokens); delta_verify_crc replays the
    snapshot at the checksum's version and raises naming the drifted
    fields when the recorded state disagrees."""
    import time_series_prediction_spark.sources.deltalog as dl

    table = str(tmp_path / "t")
    dl.write_delta_log(
        spark.range(20).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        ),
        table,
    )
    dl.delta_delete(spark, table, "k % 4 = 0")  # a DV in the state
    p = dl.delta_write_crc(spark, table)
    assert os.path.basename(p).endswith(".crc")
    rec = dl.delta_verify_crc(spark, table)
    assert rec["numFiles"] >= 1
    assert rec["numDeletedRecordsOpt"] == 5
    assert rec["numDeletionVectorsOpt"] >= 1
    assert rec["tableSizeBytes"] > 0

    # the checkpoint cadence writes one automatically, at its version
    dl.write_delta_log(
        spark.createDataFrame([(100, 1)], "k long, v long"),
        table, mode="append", txn=("app", 3),
    )
    v = dl.write_checkpoint(spark, table)
    log = os.path.join(table, "_delta_log")
    assert os.path.exists(os.path.join(log, f"{v:020d}.crc"))
    rec2 = dl.delta_verify_crc(spark, table)
    assert rec2["version"] == v
    assert rec2["setTransactions"] == [{"appId": "app", "version": 3}]

    # tampered checksum: verification raises naming the drift
    # (tamper through the table's own FileSystem — a raw python write
    # would desync Hadoop LocalFileSystem's checksum sidecars)
    fs = dl.fs_for(spark, table)
    crc_path = os.path.join(log, f"{v:020d}.crc")
    bad = json.loads(fs.read_text(crc_path))
    bad["numFiles"] += 1
    bad["tableSizeBytes"] -= 17
    fs.delete(crc_path)
    fs.write_text(crc_path, json.dumps(bad))
    with pytest.raises(
        ValueError, match="tableSizeBytes.*numFiles|numFiles.*tableSizeBytes"
    ):
        dl.delta_verify_crc(spark, table)


def test_liquid_clustering_metadata_and_optimize(spark, tmp_path):
    """CLUSTER BY (liquid clustering's metadata plane): the clustering
    columns live in the delta.clustering domain (nested column-path
    form) behind the clustering + domainMetadata writer
    features — readers untouched; OPTIMIZE without an explicit
    zorder_by re-clusters along them, after which range queries on
    the clustering key prune to a strict subset of files; CLUSTER BY
    a partition column / unknown column refuses; CLUSTER BY NONE
    removes the domain and OPTIMIZE stops re-clustering."""
    import time_series_prediction_spark.sources.deltalog as dl

    table = str(tmp_path / "t")
    # interleaved appends: every file spans nearly the full k range,
    # so pre-clustering stats prune nothing
    for i in range(4):
        dl.write_delta_log(
            spark.range(2000).selectExpr(
                f"id * 4 + {i} AS k", "id % 100 AS v"
            ),
            table, mode="overwrite" if i == 0 else "append",
        )
    with pytest.raises(ValueError, match="not in the table"):
        dl.delta_cluster_by(spark, table, ["nope"])
    with pytest.raises(ValueError, match="not clustered"):
        dl.delta_cluster_by(spark, table, [])
    dl.delta_cluster_by(spark, table, ["k"])
    _f, _m, _v, _t, proto, domains = dl.delta_snapshot_ex(spark, table)
    # the protocol writer-feature name is "clustering" (delta-spark's
    # name — interop writers block on unknown features); the legacy
    # "clusteringColumns" must NOT be written
    assert "clustering" in proto["writerFeatures"]
    assert "clusteringColumns" not in proto["writerFeatures"]
    assert "domainMetadata" in proto["writerFeatures"]
    assert dl._clustering_columns(domains) == ["k"]

    dl.delta_optimize(spark, table, target_files=4)
    files, *_ = dl.delta_snapshot(spark, table)
    assert len(files) == 4
    # clustered layout: a narrow k-range touches FEWER files than the
    # table holds (stats-pruned scan), and the rows are right
    pruned = dl.read_delta_pruned(spark, table, {"k": (0, 799)})
    got = sorted(
        r["k"] for r in pruned.where("k between 0 and 799").collect()
    )
    assert got == list(range(800))
    n_pruned_files = pruned.select("k").inputFiles()
    assert len(set(n_pruned_files)) < 4

    # partition-column clustering refuses (fresh partitioned table)
    table2 = str(tmp_path / "p")
    dl.write_delta_log(
        spark.range(10).selectExpr("id AS k", "CAST(id % 2 AS INT) AS p"),
        table2, mode="overwrite", partition_cols=["p"],
    )
    with pytest.raises(ValueError, match="partition column"):
        dl.delta_cluster_by(spark, table2, ["p"])

    # CLUSTER BY NONE removes the domain
    dl.delta_cluster_by(spark, table, [])
    *_, domains2 = dl.delta_snapshot_ex(spark, table)
    assert dl._clustering_columns(domains2) == []


def test_row_tracking_statless_adds_one_scan(spark, tmp_path, monkeypatch):
    """A batch wider than the stats ceiling still gets correct
    baseRowIds: the counts come from ONE footer scan over exactly the
    statless files (never a job per file), and ids stay unique and
    watermark-aligned."""
    import time_series_prediction_spark.sources.deltalog as dl

    monkeypatch.setattr(dl, "_DELTA_STATS_MAX_FILES", 0)  # no stats
    table = str(tmp_path / "t")
    dl.write_delta_log(
        spark.range(10).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        ),
        table, mode="overwrite",
    )
    dl.delta_enable_row_tracking(spark, table)
    dl.write_delta_log(
        spark.range(100, 130).repartition(3).select(
            F.col("id").alias("k"), F.lit(1).cast("long").alias("v")
        ),
        table, mode="append",
    )
    ids = {r["k"]: r["_row_id"] for r in
           dl.read_delta_with_row_ids(spark, table).collect()}
    assert len(ids) == 40
    rids = list(ids.values())
    assert len(set(rids)) == 40
    new = [ids[k] for k in range(100, 130)]
    assert min(new) > max(ids[k] for k in range(10))
    assert max(new) - min(new) == 29  # contiguous block across 3 files


def test_row_tracking_streaming_replay_idempotent(spark, tmp_path):
    """A replayed micro-batch on a row-tracked table is recognized by
    its txn token and SKIPPED — no duplicate rows, no duplicate row
    ids, and the high-water mark does not double-advance (the next
    real batch allocates contiguously above the first)."""
    import time_series_prediction_spark.sources.deltalog as dl

    table = str(tmp_path / "t")
    dl.write_delta_log(
        spark.range(5).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        ),
        table, mode="overwrite",
    )
    dl.delta_enable_row_tracking(spark, table)
    sink = dl.delta_stream_sink(table, app_id="appZ")
    b1 = spark.createDataFrame([(10, 1), (11, 1)], "k long, v long")
    sink(b1, 0)
    hwm1 = dl._rt_hwm(dl.delta_snapshot_ex(spark, table)[5])
    sink(b1, 0)  # crash-replay of the SAME batch: must be skipped
    assert dl._rt_hwm(dl.delta_snapshot_ex(spark, table)[5]) == hwm1
    assert dl.read_delta_log(spark, table).count() == 7
    sink(spark.createDataFrame([(12, 1)], "k long, v long"), 1)
    ids = {r["k"]: r["_row_id"] for r in
           dl.read_delta_with_row_ids(spark, table).collect()}
    rids = list(ids.values())
    assert len(rids) == len(set(rids)) == 8
    assert ids[12] == hwm1 + 1  # contiguous above the first batch


def test_alter_table_column_surface(spark, tmp_path):
    """ALTER TABLE end to end: enabling column mapping on an existing
    table keeps every file reading (physicalName == current name);
    RENAME is metadata-only (old files read through the new logical
    name, appends land physical); DROP hides the bytes without
    touching files, and RE-ADDING the same logical name yields NULLS
    (fresh physical name — dropped data can never resurrect); ADD
    COLUMN reads null over old files; unmapped RENAME/DROP refuse
    with the remedy; referenced columns refuse."""
    import time_series_prediction_spark.sources.deltalog as dl

    table = str(tmp_path / "t")
    dl.write_delta_log(
        spark.range(10).selectExpr(
            "id AS k", "id * 2 AS v", "CAST(id AS STRING) AS s"
        ),
        table, mode="overwrite",
    )
    with pytest.raises(ValueError, match="column mapping"):
        dl.delta_rename_column(spark, table, "v", "val")
    with pytest.raises(ValueError, match="column mapping"):
        dl.delta_drop_column(spark, table, "v")

    v_en = dl.delta_enable_column_mapping(spark, table)
    assert dl.delta_enable_column_mapping(spark, table) == v_en
    _f, meta, _v, _t, proto = dl.delta_snapshot(spark, table)
    assert (meta["configuration"]["delta.columnMapping.mode"]
            == "name")
    assert int(proto["minReaderVersion"]) >= 2
    got = dl.read_delta_log(spark, table)
    assert got.columns == ["k", "v", "s"]
    assert got.count() == 10  # old files still read

    # RENAME: metadata-only; old data reads under the new name and
    # appends land under the ORIGINAL physical name
    dl.delta_rename_column(spark, table, "v", "val")
    got = dl.read_delta_log(spark, table)
    assert got.columns == ["k", "val", "s"]
    assert got.where("val = 18").count() == 1
    dl.write_delta_log(
        spark.createDataFrame([(100, 200, "x")],
                              "k long, val long, s string"),
        table, mode="append",
    )
    assert dl.read_delta_log(spark, table).where(
        "k = 100 and val = 200"
    ).count() == 1

    # constraint guard: a referenced column refuses rename/drop
    dl.delta_add_constraint(spark, table, "pos", "val >= 0")
    with pytest.raises(ValueError, match="constraint 'pos'"):
        dl.delta_rename_column(spark, table, "val", "v2")
    with pytest.raises(ValueError, match="constraint 'pos'"):
        dl.delta_drop_column(spark, table, "val")
    dl.delta_drop_constraint(spark, table, "pos")

    # DROP then RE-ADD the same logical name: nulls, never old bytes
    dl.delta_drop_column(spark, table, "val")
    assert dl.read_delta_log(spark, table).columns == ["k", "s"]
    dl.delta_add_column(spark, table, "val", "long")
    re = dl.read_delta_log(spark, table)
    assert re.columns == ["k", "s", "val"]
    assert re.where("val IS NOT NULL").count() == 0

    # ADD COLUMN on the mapped table bumped the column id ceiling
    _f2, meta2, *_ = dl.delta_snapshot(spark, table)
    assert int(
        meta2["configuration"]["delta.columnMapping.maxColumnId"]
    ) >= 4
    # and lands values from now on
    dl.write_delta_log(
        spark.createDataFrame([(101, "y", 7)],
                              "k long, s string, val long"),
        table, mode="append",
    )
    assert dl.read_delta_log(spark, table).where(
        "val = 7"
    ).count() == 1

    # partition-column rename stays consistent; its drop refuses
    t2 = str(tmp_path / "p")
    dl.write_delta_log(
        spark.range(6).selectExpr("id AS k", "CAST(id % 2 AS INT) AS p"),
        t2, mode="overwrite", partition_cols=["p"],
    )
    dl.delta_enable_column_mapping(spark, t2)
    dl.delta_rename_column(spark, t2, "p", "bucket")
    got2 = dl.read_delta_log(spark, t2)
    assert sorted(got2.columns) == ["bucket", "k"]
    assert got2.where("bucket = 1").count() == 3
    with pytest.raises(ValueError, match="partition column"):
        dl.delta_drop_column(spark, t2, "bucket")


def test_row_tracking_survives_clustered_optimize(spark, tmp_path):
    """CLUSTER BY + row tracking: the z-ordered OPTIMIZE rewrite must
    carry the materialized row-id columns through the z-layout writer
    — every id and creating-commit version identical after the
    re-cluster, while the data files are reordered along the Morton
    curve."""
    import time_series_prediction_spark.sources.deltalog as dl

    table = str(tmp_path / "t")
    for i in range(3):
        dl.write_delta_log(
            spark.range(600).selectExpr(
                f"id * 3 + {i} AS k", "id % 7 AS v"
            ),
            table, mode="overwrite" if i == 0 else "append",
        )
    dl.delta_enable_row_tracking(spark, table)
    dl.delta_cluster_by(spark, table, ["k"])
    dl.delta_delete(spark, table, "k % 13 = 0")
    before = {
        r["k"]: (r["_row_id"], r["_row_commit_version"])
        for r in dl.read_delta_with_row_ids(spark, table).collect()
    }
    dl.delta_optimize(spark, table, target_files=2)
    after = {
        r["k"]: (r["_row_id"], r["_row_commit_version"])
        for r in dl.read_delta_with_row_ids(spark, table).collect()
    }
    assert after == before


def test_operation_metrics_in_history(spark, tmp_path):
    """Every data commit's commitInfo carries operationMetrics
    (delta-spark's stringified convention) derived from its own
    actions — added/removed file counts, bytes, output rows from the
    adds' stats — and DESCRIBE HISTORY surfaces them."""
    import time_series_prediction_spark.sources.deltalog as dl

    table = str(tmp_path / "t")
    dl.write_delta_log(
        spark.range(20).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        ),
        table, mode="overwrite",
    )
    dl.delta_delete(spark, table, "k % 4 = 0", max_dv_rows=0)  # rewrite
    hist = {h["version"]: h for h in dl.delta_history(spark, table)}
    m0 = hist[0]["operationMetrics"]
    assert int(m0["numAddedFiles"]) >= 1
    assert m0["numRemovedFiles"] == "0"
    assert m0["numOutputRows"] == "20"
    assert int(m0["numAddedBytes"]) > 0
    m1 = hist[1]["operationMetrics"]  # the rewrite-shaped delete
    assert int(m1["numRemovedFiles"]) >= 1
    assert m1["numOutputRows"] == "15"


def test_incremental_clustered_optimize(spark, tmp_path):
    """Liquid clustering's maintenance loop: after a full clustered
    OPTIMIZE (disjoint key ranges), one appended file overlaps a few
    ranges — the incremental OPTIMIZE rewrites ONLY the overlapping
    subset, the settled files keep their exact paths (cost ∝ new
    data, not the table), data and row ids stay intact, and the table
    converges: a second incremental pass finds nothing to do."""
    import time_series_prediction_spark.sources.deltalog as dl

    table = str(tmp_path / "t")
    dl.write_delta_log(
        spark.range(8000).selectExpr("id AS k", "id % 10 AS v"),
        table, mode="overwrite",
    )
    with pytest.raises(ValueError, match="not clustered"):
        dl.delta_optimize_incremental(spark, table)
    dl.delta_enable_row_tracking(spark, table)
    dl.delta_cluster_by(spark, table, ["k"])
    dl.delta_optimize(spark, table, target_files=8)  # full cluster
    files0 = set(dl.delta_snapshot(spark, table)[0])
    assert len(files0) == 8

    # one narrow append: overlaps ~1-2 of the 8 disjoint ranges,
    # plus a small DV delete — the DV-bearing file joins the rewrite
    # set and its hidden rows materialize away
    dl.write_delta_log(
        spark.range(100, 300).selectExpr("id AS k", "CAST(1 AS BIGINT) AS v"),
        table, mode="append",
    )
    dl.delta_delete(spark, table, "k in (150, 151) and v = 1")
    before = {
        (r["k"], r["v"]): r["_row_id"]
        for r in dl.read_delta_with_row_ids(spark, table).collect()
    }
    dl.delta_optimize_incremental(spark, table, target_files=8)
    files1 = set(dl.delta_snapshot(spark, table)[0])
    survivors = files0 & files1
    # the settled bulk never rewrote: most clustered files survive
    assert len(survivors) >= 5, (len(files0), len(files1), len(survivors))
    after = {
        (r["k"], r["v"]): r["_row_id"]
        for r in dl.read_delta_with_row_ids(spark, table).collect()
    }
    assert after == before  # data AND ids identical

    # converged: ranges disjoint again, second pass is a no-op commit
    v = dl.delta_snapshot(spark, table)[2]
    assert dl.delta_optimize_incremental(spark, table) == v
    # and the table still prunes: narrow range touches few files
    pruned = dl.read_delta_pruned(spark, table, {"k": (0, 999)})
    assert len(set(pruned.select("k").inputFiles())) < len(files1)


def test_multipart_checkpoint_writing(spark, tmp_path):
    """Multi-part checkpoint WRITING (the reader replayed them since
    round 9): a DV-bearing row-tracked table checkpointed in 3 parts
    reconstructs from the part group alone after log cleaning — rows,
    ids, protocol, domains intact — and _last_checkpoint records the
    part count."""
    import time_series_prediction_spark.sources.deltalog as dl

    table = str(tmp_path / "t")
    for i in range(3):
        dl.write_delta_log(
            spark.range(200).selectExpr(f"id*3+{i} AS k", "id AS v"),
            table, mode="overwrite" if i == 0 else "append",
        )
    dl.delta_enable_row_tracking(spark, table)
    dl.delta_delete(spark, table, "k % 17 = 0")
    before = {
        r["k"]: r["_row_id"]
        for r in dl.read_delta_with_row_ids(spark, table).collect()
    }
    v = dl.write_checkpoint(spark, table, clean_old_commits=True,
                            parts=3)
    log = os.path.join(table, "_delta_log")
    names = os.listdir(log)
    group = [
        n for n in names
        if n.startswith(f"{v:020d}.checkpoint.") and n.count(".") == 4
    ]
    assert len(group) == 3
    assert not [n for n in names if n.endswith(".json")]
    lc = json.loads(open(os.path.join(log, "_last_checkpoint")).read())
    assert lc["parts"] == 3 and lc["version"] == v

    after = {
        r["k"]: r["_row_id"]
        for r in dl.read_delta_with_row_ids(spark, table).collect()
    }
    assert after == before
    _f, _m, _v, _t, proto, domains = dl.delta_snapshot_ex(spark, table)
    assert "rowTracking" in (proto.get("writerFeatures") or [])
    assert dl._rt_hwm(domains) >= 599
    # the table keeps working past the multi-part checkpoint
    dl.write_delta_log(
        spark.createDataFrame([(9999, 1)], "k long, v long"),
        table, mode="append",
    )
    assert dl.read_delta_log(spark, table).where("k = 9999").count() == 1


def test_ict_follows_resulting_metadata_and_survives_cleanup(
    spark, tmp_path, monkeypatch
):
    """ADVICE r12: (a) the ICT requirement follows the commit's
    RESULTING metadata — the commit that sets
    delta.enableInCommitTimestamps=false must NOT itself carry an
    inCommitTimestamp; (b) log cleanup persists the last ICT in
    _last_checkpoint tags, so a BACKWARDS wall clock after
    clean_old_commits cannot re-seed the monotone chain below
    history."""
    import time_series_prediction_spark.sources.deltalog as dl

    table = str(tmp_path / "t")
    log = os.path.join(table, "_delta_log")

    def _icts():
        out = {}
        for n in sorted(os.listdir(log)):
            if not (n.endswith(".json") and n[:20].isdigit()):
                continue
            with open(os.path.join(log, n)) as f:
                for line in f:
                    if '"commitInfo"' in line:
                        ci = json.loads(line)["commitInfo"]
                        out[int(n[:20])] = ci.get("inCommitTimestamp")
                        break
        return out

    dl.write_delta_log(spark.range(5).selectExpr("id AS k"), table)
    v_en = dl.delta_set_table_property(
        spark, table, "delta.enableInCommitTimestamps", "true"
    )
    dl.write_delta_log(
        spark.createDataFrame([(10,)], "k long"), table, mode="append"
    )
    icts = _icts()
    assert icts[v_en] is not None and icts[v_en + 1] > icts[v_en]

    # (a) the DISABLING commit carries no ICT (resulting metadata)
    v_dis = dl.delta_set_table_property(
        spark, table, "delta.enableInCommitTimestamps", "false"
    )
    assert _icts()[v_dis] is None
    # ...and while disabled, plain commits carry none either
    dl.write_delta_log(
        spark.createDataFrame([(11,)], "k long"), table, mode="append"
    )
    assert _icts()[v_dis + 1] is None

    # re-enable, checkpoint with cleanup, then freeze the clock FAR
    # in the past — monotonicity must come from the persisted seed
    v_re = dl.delta_set_table_property(
        spark, table, "delta.enableInCommitTimestamps", "true"
    )
    last_ict = _icts()[v_re]
    v_cp = dl.write_checkpoint(spark, table, clean_old_commits=True)
    assert v_cp == v_re
    lc = json.loads(open(os.path.join(log, "_last_checkpoint")).read())
    assert lc["tags"]["lastInCommitTimestamp"] == last_ict
    assert not [n for n in os.listdir(log) if n.endswith(".json")]

    monkeypatch.setattr(dl._time, "time", lambda: 1.0)  # 1970
    dl.write_delta_log(
        spark.createDataFrame([(12,)], "k long"), table, mode="append"
    )
    icts = _icts()
    assert icts[v_cp + 1] == last_ict + 1  # seeded, not wall clock


def test_refuse_column_references_identifier_boundaries(
    spark, tmp_path
):
    """ADVICE r12: constraint / generation-expression reference
    detection matches on identifier boundaries — a column named 'a'
    is NOT pinned by an expression that merely contains the letter
    (another identifier like total_a, or a string literal); bare and
    backtick-quoted true references still refuse."""
    import time_series_prediction_spark.sources.deltalog as dl

    table = str(tmp_path / "t")
    dl.write_delta_log(
        spark.range(5).selectExpr(
            "id AS a", "id * 2 AS total_a", "CAST(id AS STRING) AS s"
        ),
        table, mode="overwrite",
    )
    dl.delta_enable_column_mapping(spark, table)
    # expressions that contain 'a' but never reference column a
    dl.delta_add_constraint(spark, table, "c1", "total_a >= 0")
    dl.delta_add_constraint(spark, table, "c2", "s <> 'nothing a here'")
    v = dl.delta_rename_column(spark, table, "a", "a2")  # allowed
    assert "a2" in dl.read_delta_log(spark, table).columns
    dl.delta_rename_column(spark, table, "a2", "a")
    # true references refuse: bare and backtick-quoted
    dl.delta_add_constraint(spark, table, "c3", "a + total_a >= 0")
    with pytest.raises(ValueError, match="constraint 'c3'"):
        dl.delta_drop_column(spark, table, "a")
    dl.delta_drop_constraint(spark, table, "c3")
    dl.delta_add_constraint(spark, table, "c4", "`a` >= 0")
    with pytest.raises(ValueError, match="constraint 'c4'"):
        dl.delta_rename_column(spark, table, "a", "b")
    dl.delta_drop_constraint(spark, table, "c4")
    # the referenced column guard never blocked the innocent one
    dl.delta_drop_column(spark, table, "a")
    assert "a" not in dl.read_delta_log(spark, table).columns
    assert v > 0


def test_row_tracking_statless_count_mismatch_raises(
    spark, tmp_path, monkeypatch
):
    """ADVICE r12: when a statless add's footer-scan row count is
    missing (URI-normalization mismatch), _attach_row_tracking must
    RAISE instead of silently assigning 0 rows (which would hand the
    next add an overlapping baseRowId)."""
    import time_series_prediction_spark.sources.deltalog as dl

    table = str(tmp_path / "t")
    dl.write_delta_log(spark.range(8).selectExpr("id AS k"), table)
    dl.delta_enable_row_tracking(spark, table)

    files, _m, _v, _t, _p = dl.delta_snapshot(spark, table)
    rel = next(iter(files))  # dict keyed by the add's relative path
    real = {"path": rel, **files[rel]}
    # a statless add over a REAL file: the footer scan counts it fine
    actions = [{"add": {**real, "stats": None, "baseRowId": None,
                        "defaultRowCommitVersion": None}}]
    dl._attach_row_tracking(spark, table, actions, hwm=100, version=9)
    assert actions[0]["add"]["baseRowId"] == 101
    # force a normalization mismatch: the same call must raise
    monkeypatch.setattr(dl, "_norm_uri", lambda p: p + "#mismatch")
    bad = [{"add": {**real, "stats": None, "baseRowId": None,
                    "defaultRowCommitVersion": None}}]
    with pytest.raises(RuntimeError, match="no footer row count"):
        dl._attach_row_tracking(spark, table, bad, hwm=100, version=9)


def test_clustering_legacy_feature_name_reads(spark, tmp_path):
    """Back-compat: a table whose protocol carries the legacy
    'clusteringColumns' writer-feature name (written by pre-r13
    builds) still snapshots, reads, and reports its clustering
    columns — recognition rides the delta.clustering domain, and
    writerFeatures never gate reads."""
    import time_series_prediction_spark.sources.deltalog as dl

    table = str(tmp_path / "t")
    dl.write_delta_log(
        spark.range(100).selectExpr("id AS k", "id % 5 AS v"), table
    )
    dl.delta_cluster_by(spark, table, ["k"])
    _f, meta, v, _t, proto, domains = dl.delta_snapshot_ex(spark, table)
    assert "clustering" in proto["writerFeatures"]
    # rewrite the protocol under the LEGACY name via a new commit
    legacy = {
        **proto,
        "writerFeatures": sorted(
            {f for f in proto["writerFeatures"] if f != "clustering"}
            | {"clusteringColumns"}
        ),
    }
    fs = dl.fs_for(spark, table)
    dl._commit_json(
        fs, table, v + 1, [{"protocol": legacy}], op="UPGRADE",
        meta=meta,
    )
    _f2, _m2, v2, _t2, proto2, dom2 = dl.delta_snapshot_ex(spark, table)
    assert v2 == v + 1
    assert "clusteringColumns" in proto2["writerFeatures"]
    assert dl._clustering_columns(dom2) == ["k"]
    assert dl.read_delta_log(spark, table).count() == 100
    # and OPTIMIZE still re-clusters along the domain's columns
    dl.delta_optimize(spark, table, target_files=2)
    assert dl.read_delta_log(spark, table).count() == 100


def test_incremental_optimize_multicolumn_overlap(spark, tmp_path):
    """VERDICT r12 Next #1: a table clustered on (low-cardinality,
    high-cardinality) keys whose clustered files carry OVERLAPPING
    leading-key ranges. The old leading-key-only overlap test would
    flag every such pair and rewrite the table each tick; the
    multi-column test (bounding-box intersection on ALL clustering
    columns + ZCube exemption) rewrites strictly fewer files — just
    the append and the k-ranges it genuinely intersects. Row ids
    survive, the converged table is a strict no-op, and ZCUBE_ID add
    tags survive classic AND v2 checkpoints with log cleanup (without
    tag persistence the post-cleanup tick would re-flag settled
    files)."""
    import time_series_prediction_spark.sources.deltalog as dl

    table = str(tmp_path / "t")
    dl.write_delta_log(
        spark.range(8000).selectExpr(
            "id % 100 AS grp", "id AS k", "id % 10 AS v"
        ),
        table, mode="overwrite",
    )
    dl.delta_enable_row_tracking(spark, table)
    dl.delta_cluster_by(spark, table, ["grp", "k"])
    dl.delta_optimize(spark, table, target_files=8)  # full cluster
    files0, *_ = dl.delta_snapshot(spark, table)
    assert len(files0) == 8
    # the VERDICT scenario: clustered files OVERLAP on the leading
    # key (a leading-key-only test would flag these pairs), while
    # every file carries its birth-cube tag
    ranges = {
        rel: dl._stat_range(add, "grp") for rel, add in files0.items()
    }
    n_lead_overlaps = sum(
        1
        for i, (r1, g1) in enumerate(sorted(ranges.items()))
        for r2, g2 in sorted(ranges.items())[i + 1:]
        if g1[0] <= g2[1] and g2[0] <= g1[1]
    )
    assert n_lead_overlaps >= 4, ranges
    for add in files0.values():
        assert add["tags"]["ZCUBE_ID"]  # full OPTIMIZE stamped a cube

    # one narrow-k append: genuinely intersects only a couple of the
    # disjoint k-boxes (on grp it intersects everything)
    dl.write_delta_log(
        spark.range(100, 300).selectExpr(
            "id % 100 AS grp", "id AS k", "CAST(1 AS BIGINT) AS v"
        ),
        table, mode="append",
    )
    before = {
        (r["grp"], r["k"], r["v"]): r["_row_id"]
        for r in dl.read_delta_with_row_ids(spark, table).collect()
    }
    dl.delta_optimize_incremental(spark, table, target_files=8)
    files1 = set(dl.delta_snapshot(spark, table)[0])
    survivors = set(files0) & files1
    # strictly fewer than "rewrite all": the settled bulk survives
    assert len(survivors) >= 4, (len(files0), len(files1),
                                 len(survivors))
    after = {
        (r["grp"], r["k"], r["v"]): r["_row_id"]
        for r in dl.read_delta_with_row_ids(spark, table).collect()
    }
    assert after == before  # data AND ids identical

    # converged: second pass is a no-op (no commit burned)
    v = dl.delta_snapshot(spark, table)[2]
    assert dl.delta_optimize_incremental(spark, table) == v

    # classic checkpoint + log cleanup: tags persist, still a no-op
    dl.write_checkpoint(spark, table, clean_old_commits=True)
    files2, *_ = dl.delta_snapshot(spark, table)
    assert all(
        (a.get("tags") or {}).get("ZCUBE_ID") for a in files2.values()
    )
    v2 = dl.delta_snapshot(spark, table)[2]
    assert dl.delta_optimize_incremental(spark, table) == v2

    # v2 (UUID) checkpoint roundtrips tags through the sidecar too
    dl.write_checkpoint_v2(spark, table, clean_old_commits=True)
    files3, _m, v3, _t, _p = dl.delta_snapshot(spark, table)
    assert all(
        (a.get("tags") or {}).get("ZCUBE_ID") for a in files3.values()
    )
    assert dl.delta_optimize_incremental(spark, table) == v3
    # ids STILL intact after both checkpoint planes
    final = {
        (r["grp"], r["k"], r["v"]): r["_row_id"]
        for r in dl.read_delta_with_row_ids(spark, table).collect()
    }
    assert final == before


def test_incremental_optimize_partitioned_per_partition(spark, tmp_path):
    """VERDICT r13 Next #2: a Hive-partitioned clustered table (the
    shape CONVERT TO DELTA produces) runs the ZCube overlap logic PER
    PARTITION — an append into one partition rewrites only that
    partition's overlapping files, settled cubes in untouched
    partitions survive with their exact paths, a repeat tick is a
    strict no-op, and row ids stay intact throughout."""
    import time_series_prediction_spark.sources.deltalog as dl

    table = str(tmp_path / "t")
    dl.write_delta_log(
        spark.range(400).selectExpr(
            "CAST(id % 2 AS LONG) AS p", "id AS k", "id * 2 AS v"
        ),
        table, mode="overwrite", partition_cols=["p"],
    )
    dl.delta_enable_row_tracking(spark, table)
    dl.delta_cluster_by(spark, table, ["k"])
    dl.delta_optimize(spark, table, target_files=4)  # full cluster
    files0, *_ = dl.delta_snapshot(spark, table)
    p0_files = {r for r in files0 if r.startswith("p=0")}
    p1_files = {r for r in files0 if r.startswith("p=1")}
    assert len(p0_files) >= 3 and len(p1_files) >= 3
    for add in files0.values():
        assert add["tags"]["ZCUBE_ID"]  # full OPTIMIZE stamped cubes

    # a narrow k-range append into p=0 ONLY: overlaps a couple of
    # p=0's disjoint k-boxes, touches nothing in p=1
    dl.write_delta_log(
        spark.createDataFrame(
            [(0, 50 + i, 1) for i in range(20)],
            "p long, k long, v long",
        ),
        table, mode="append", partition_cols=["p"],
    )
    before = {
        (r["p"], r["k"], r["v"]): r["_row_id"]
        for r in dl.read_delta_with_row_ids(spark, table).collect()
    }
    v1 = dl.delta_snapshot(spark, table)[2]
    v2 = dl.delta_optimize_incremental(spark, table, target_files=4)
    assert v2 == v1 + 1
    files1 = set(dl.delta_snapshot(spark, table)[0])
    # EVERY settled p=1 file survives with its exact path
    assert p1_files <= files1
    # p=0 rewrote only the overlapped slice: some settled p=0 files
    # survive too (the append's k-range misses their boxes)
    assert p0_files & files1, (sorted(p0_files), sorted(files1))
    # the rewrite landed back under the partition layout
    assert all(
        r.startswith(("p=0", "p=1")) for r in files1
    ), sorted(files1)
    after = {
        (r["p"], r["k"], r["v"]): r["_row_id"]
        for r in dl.read_delta_with_row_ids(spark, table).collect()
    }
    assert after == before  # data AND ids identical

    # converged: the repeat tick is a strict no-op
    assert dl.delta_optimize_incremental(spark, table) == v2

    # and a second append into the OTHER partition dirties only it
    dl.write_delta_log(
        spark.createDataFrame(
            [(1, 51 + 2 * i, 1) for i in range(10)],
            "p long, k long, v long",
        ),
        table, mode="append", partition_cols=["p"],
    )
    files_pre = {
        r for r in dl.delta_snapshot(spark, table)[0]
        if r.startswith("p=0")
    }
    v3 = dl.delta_optimize_incremental(spark, table, target_files=4)
    files2 = set(dl.delta_snapshot(spark, table)[0])
    assert files_pre <= files2  # p=0 fully untouched this time
    assert dl.delta_optimize_incremental(spark, table) == v3
    got = sorted(
        (r["p"], r["k"]) for r in dl.read_delta_log(spark, table)
        .where("k between 50 and 70").collect()
    )
    want = sorted(
        [(i % 2, i) for i in range(50, 71)]
        + [(0, 50 + i) for i in range(20) if 50 + i <= 70]
        + [(1, 51 + 2 * i) for i in range(10) if 51 + 2 * i <= 70]
    )
    assert got == want


def test_reorg_table_apply_purge(spark, tmp_path):
    """VERDICT r12 Next #2 — REORG TABLE ... APPLY (PURGE): ALTER
    DROP COLUMN is metadata-only, so the dropped column's bytes stay
    in every pre-drop parquet file; REORG rewrites ONLY the files
    carrying dropped-column data or deletion vectors (dataChange=
    false, row ids preserved), after which the live files' parquet
    footers no longer carry the dropped physical column, clean files
    keep their exact paths, a second REORG is a no-op, and vacuum
    completes the two-step byte erasure."""
    import pyarrow.parquet as pq

    import time_series_prediction_spark.sources.deltalog as dl

    table = str(tmp_path / "t")
    dl.write_delta_log(
        spark.range(100).selectExpr(
            "id AS k", "id * 2 AS v", "CAST(id AS STRING) AS s"
        ),
        table, mode="overwrite",
    )
    dl.delta_enable_row_tracking(spark, table)
    dl.delta_enable_column_mapping(spark, table)
    # nothing to purge yet: REORG is a no-op (no commit burned)
    v0 = dl.delta_snapshot(spark, table)[2]
    assert dl.delta_reorg_purge(spark, table) == v0

    dl.delta_drop_column(spark, table, "v")       # metadata-only
    dl.delta_delete(spark, table, "k in (3, 7)")  # a DV to purge
    dl.write_delta_log(  # post-drop append: a CLEAN file
        spark.createDataFrame([(1000, "x")], "k long, s string"),
        table, mode="append",
    )

    def _footer_cols(files):
        out = {}
        for rel in files:
            out[rel] = set(
                pq.ParquetFile(
                    os.path.join(table, rel)
                ).schema_arrow.names
            )
        return out

    files0, meta0, v1, _t0, _p0 = dl.delta_snapshot(spark, table)
    pre = _footer_cols(files0)
    dirty0 = {rel for rel, cols in pre.items() if "v" in cols}
    clean0 = set(files0) - dirty0
    assert dirty0 and clean0  # both kinds exist pre-REORG
    ids_before = {
        (r["k"], r["s"]): r["_row_id"]
        for r in dl.read_delta_with_row_ids(spark, table).collect()
    }

    v2 = dl.delta_reorg_purge(spark, table)
    assert v2 == v1 + 1
    files1, *_ = dl.delta_snapshot(spark, table)
    # clean files byte-untouched (exact paths survive); dirty gone
    assert clean0 <= set(files1)
    assert not (dirty0 & set(files1))
    # no live footer carries the dropped physical column anymore
    assert all("v" not in c for c in _footer_cols(files1).values())
    # no DV survives; the tombstoned rows stayed hidden
    assert not any(a.get("deletionVector") for a in files1.values())
    got = dl.read_delta_log(spark, table)
    assert got.where("k in (3, 7)").count() == 0
    assert got.count() == 99  # 100 - 2 deleted + 1 appended
    # row ids preserved across the purge rewrite
    ids_after = {
        (r["k"], r["s"]): r["_row_id"]
        for r in dl.read_delta_with_row_ids(spark, table).collect()
    }
    assert ids_after == ids_before
    # the REORG commit is pure layout: every action dataChange=false
    log = os.path.join(table, "_delta_log")
    acts = [
        json.loads(line)
        for line in open(
            os.path.join(log, f"{v2:020d}.json")
        ).read().splitlines()
    ]
    assert any("add" in a for a in acts)
    assert all(
        a[k]["dataChange"] is False
        for a in acts
        for k in ("add", "remove")
        if k in a
    )
    # idempotent: a second REORG finds nothing
    assert dl.delta_reorg_purge(spark, table) == v2
    # two-step erasure: vacuum reclaims the superseded dirty files
    reclaimed = dl.delta_vacuum(spark, table, retention_ms=0)
    assert {os.path.basename(r) for r in reclaimed} >= {
        os.path.basename(r) for r in dirty0
    }


def test_reorg_purge_stats_blind_dropped_column(spark, tmp_path):
    """ADVICE r13 (high): a dropped column that is STATS-BLIND
    (timestamps never appear in add.stats — `_encode_stat` has no
    faithful order-preserving encoding for them) must still be
    physically erased by REORG PURGE. Pre-fix, the file's stats keys
    (k, s only) looked clean against the allowed set, the footer
    fallback never ran, and REORG silently returned without erasing
    the dropped timestamp's bytes. Stats may only prove DIRTY now;
    CLEAN comes from the footer or the field-id ledger."""
    import pyarrow.parquet as pq

    import time_series_prediction_spark.sources.deltalog as dl

    table = str(tmp_path / "t")
    dl.write_delta_log(
        spark.range(50).selectExpr(
            "id AS k",
            "timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,id)"
            " AS ts",
            "CAST(id AS STRING) AS s",
        ),
        table, mode="overwrite",
    )
    dl.delta_enable_column_mapping(spark, table)
    # the landed file is stats-bearing for k and s but blind on ts
    files0, meta0, v0, _t, _p = dl.delta_snapshot(spark, table)
    blind = [
        dl._stats_phys_cols(a) for a in files0.values() if a.get("stats")
    ]
    assert blind and all("ts" not in (c or set()) for c in blind)

    dl.delta_drop_column(spark, table, "ts")  # metadata-only
    v1 = dl.delta_snapshot(spark, table)[2]
    v2 = dl.delta_reorg_purge(spark, table)
    assert v2 == v1 + 1  # MUST rewrite — the ts bytes are purgeable
    files1, *_ = dl.delta_snapshot(spark, table)
    for rel in files1:
        names = pq.ParquetFile(
            os.path.join(table, rel)
        ).schema_arrow.names
        assert "ts" not in names  # bytes physically gone
    got = dl.read_delta_log(spark, table)
    assert got.count() == 50 and set(got.columns) == {"k", "s"}
    # idempotent — and the id ledger now has a retired id, so the
    # second pass proves cleanliness via footers, not stats
    assert dl.delta_reorg_purge(spark, table) == v2


def test_reorg_purge_id_ledger_shortcut(spark, tmp_path):
    """Companion to the stats-blind fix: a mapped table that NEVER
    dropped a column has a contiguous field-id ledger
    (`_no_retired_field_ids` True), so REORG proves every non-DV file
    clean with zero footer reads; after a drop the ledger has a gap
    and the shortcut must disengage."""
    import json as _json

    import time_series_prediction_spark.sources.deltalog as dl
    from pyspark.sql.types import StructType

    table = str(tmp_path / "t")
    dl.write_delta_log(
        spark.range(20).selectExpr("id AS k", "id * 2 AS v"),
        table, mode="overwrite",
    )
    dl.delta_enable_column_mapping(spark, table)
    _f, meta, v0, _t, _p = dl.delta_snapshot(spark, table)
    schema = StructType.fromJson(_json.loads(meta["schemaString"]))
    assert dl._no_retired_field_ids(meta, schema)
    assert dl.delta_reorg_purge(spark, table) == v0  # clean no-op

    dl.delta_drop_column(spark, table, "v")
    _f, meta, _v, _t, _p = dl.delta_snapshot(spark, table)
    schema = StructType.fromJson(_json.loads(meta["schemaString"]))
    assert not dl._no_retired_field_ids(meta, schema)  # id 2 retired


def test_changes_since_rate_bounded_backlog(spark, tmp_path):
    """VERDICT r12 Next #4: a consumer that falls behind must not get
    the whole backlog as one unbounded microbatch. A 3-commit backlog
    drains in ≥3 bounded batches (max_versions_per_batch=1 → one
    commit each; max_files_per_batch caps the window on whole-commit
    boundaries with guaranteed progress), the union of the bounded
    batches equals the unbounded read, and a row-tracked sink
    consuming the bounded batches stays exactly-once under
    crash-replay (txn token skip, no duplicate ids)."""
    import time_series_prediction_spark.sources.deltalog as dl

    src = str(tmp_path / "src")
    dl.write_delta_log(
        spark.range(10).selectExpr("id AS k", "id * 2 AS v"),
        src, mode="overwrite",
    )
    for i in range(1, 4):  # the 3-commit backlog
        dl.write_delta_log(
            spark.range(100 * i, 100 * i + 10)
            .selectExpr("id AS k", f"CAST({i} AS BIGINT) AS v")
            .repartition(4),  # several files per commit
            src, mode="append",
        )
    latest = dl.delta_snapshot(spark, src)[2]
    unbounded, v_un = dl.delta_changes_since(spark, src, -1)
    assert v_un == latest
    want = sorted((r["k"], r["v"]) for r in unbounded.collect())

    # version-bounded drain: exactly one commit per poll
    downstream = str(tmp_path / "down")
    dl.write_delta_log(
        spark.createDataFrame([], "k long, v long"), downstream,
        mode="overwrite",
    )
    dl.delta_enable_row_tracking(spark, downstream)
    sink = dl.delta_stream_sink(downstream, app_id="drainA")
    got = []
    last_v, batches = -1, 0
    while last_v < latest:
        df, nv = dl.delta_changes_since(
            spark, src, last_v, max_versions_per_batch=1
        )
        assert nv == last_v + 1  # one commit per bounded batch
        if df is not None:
            rows = df.collect()
            got.extend((r["k"], r["v"]) for r in rows)
            sink(df, batches)
            if batches == 1:  # crash-replay of one bounded batch
                sink(df, 1)
        last_v, batches = nv, batches + 1
    assert batches >= 4  # v0 + the 3-commit backlog
    assert sorted(got) == want
    down = dl.read_delta_with_row_ids(spark, downstream).collect()
    assert sorted((r["k"], r["v"]) for r in down) == want  # no dupes
    rids = [r["_row_id"] for r in down]
    assert len(rids) == len(set(rids))  # replay minted no id twice

    # file-bounded drain: each append landed ~4 files; a cap of 4
    # stops the window at whole commits (≥3 polls for the backlog),
    # and a cap SMALLER than one commit still delivers that commit
    last_v, polls, got2 = 0, 0, []
    while last_v < latest:
        df, nv = dl.delta_changes_since(
            spark, src, last_v, max_files_per_batch=4
        )
        assert nv > last_v  # guaranteed progress
        if df is not None:
            got2.extend((r["k"], r["v"]) for r in df.collect())
        last_v, polls = nv, polls + 1
    assert polls >= 3
    assert sorted(got2) == sorted(
        (k, v) for k, v in want if not (0 <= k < 10)
    )
    tiny, nv_tiny = dl.delta_changes_since(
        spark, src, 0, max_files_per_batch=1
    )
    assert nv_tiny == 1 and tiny is not None  # one whole commit


def test_checkpoint_interval_and_policy_properties(spark, tmp_path):
    """delta.checkpointInterval overrides the auto-checkpoint cadence
    per table, and delta.checkpointPolicy='v2' routes the automatic
    rollup through the UUID-named v2 checkpoint writer — both real
    Delta table properties."""
    import time_series_prediction_spark.sources.deltalog as dl

    table = str(tmp_path / "t")
    log = os.path.join(table, "_delta_log")
    dl.write_delta_log(spark.range(5).selectExpr("id AS k"), table)
    dl.delta_set_table_property(
        spark, table, "delta.checkpointInterval", "3"
    )  # v1
    dl.write_delta_log(
        spark.createDataFrame([(10,)], "k long"), table, mode="append"
    )  # v2
    assert not [
        n for n in os.listdir(log)
        if ".checkpoint" in n and not n.startswith(".")
    ]  # not yet
    dl.write_delta_log(
        spark.createDataFrame([(11,)], "k long"), table, mode="append"
    )  # v3 -> classic checkpoint at the table's own cadence
    cps = [
        n for n in os.listdir(log)
        if ".checkpoint" in n and not n.startswith(".")
    ]
    assert cps == [f"{3:020d}.checkpoint.parquet"]

    dl.delta_set_table_property(
        spark, table, "delta.checkpointPolicy", "v2"
    )  # v4
    dl.write_delta_log(
        spark.createDataFrame([(12,)], "k long"), table, mode="append"
    )  # v5
    dl.write_delta_log(
        spark.createDataFrame([(13,)], "k long"), table, mode="append"
    )  # v6 fires the auto-rollup; the v2 writer first commits the
    # v2Checkpoint protocol upgrade (v7) and checkpoints THERE
    import re as _re

    v2cps = [
        n
        for n in os.listdir(log)
        if not n.startswith(".")
        and _re.match(r"0+7\.checkpoint\.[0-9a-f-]{36}\.parquet$", n)
    ]
    assert len(v2cps) == 1, sorted(os.listdir(log))
    # the table still reads exactly through the v2 rollup
    assert dl.read_delta_log(spark, table).count() == 9
    got = dl.delta_snapshot(spark, table)[2]
    assert got == 7


def test_num_indexed_cols_counts_leaves(spark):
    """ADVICE r13 (low): dataSkippingNumIndexedCols counts the first N
    LEAF columns depth-first (struct leaves individually), matching
    delta-spark's DataSkippingReader — not the first N top-level
    fields. With schema (s struct<a,b,c>, x, y) and N=3, the struct
    consumes all three leaf slots: x and y are NOT indexed."""
    import time_series_prediction_spark.sources.deltalog as dl
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
    )

    inner = StructType(
        [StructField(n, LongType()) for n in ("a", "b", "c")]
    )
    schema = StructType(
        [
            StructField("s", inner),
            StructField("x", LongType()),
            StructField("y", LongType()),
        ]
    )
    meta = {
        "schemaString": schema.json(),
        "configuration": {"delta.dataSkippingNumIndexedCols": "3"},
    }
    got = dl._indexed_stat_cols(meta, ["s", "x", "y"])
    assert got == {"s"}  # struct eats leaf slots 0..2
    # N=4 reaches the first leaf past the struct
    meta["configuration"]["delta.dataSkippingNumIndexedCols"] = "4"
    assert dl._indexed_stat_cols(meta, ["s", "x", "y"]) == {"s", "x"}
    # flat schemas behave exactly as before (leaves == fields)
    flat = StructType(
        [StructField(n, LongType()) for n in ("a", "b", "c")]
    )
    meta2 = {
        "schemaString": flat.json(),
        "configuration": {"delta.dataSkippingNumIndexedCols": "2"},
    }
    assert dl._indexed_stat_cols(meta2, ["a", "b", "c"]) == {"a", "b"}
    # physical columns outside the schema always keep stats
    assert dl._indexed_stat_cols(meta2, ["a", "b", "c", "_rt"]) == {
        "a", "b", "_rt",
    }


def test_data_skipping_stats_properties(spark, tmp_path):
    """delta.dataSkippingNumIndexedCols limits min/max/nullCount to
    the first N schema columns (numRecords always recorded — row
    tracking and identity read it); delta.dataSkippingStatsColumns
    names the indexed set explicitly and wins over N. Pruned reads
    must treat a column without stats as unprunable, never as
    empty."""
    import time_series_prediction_spark.sources.deltalog as dl

    table = str(tmp_path / "t")
    dl.write_delta_log(
        spark.range(50).selectExpr(
            "id AS a", "id * 2 AS b", "id * 3 AS c"
        ).coalesce(1),
        table, mode="overwrite",
    )
    dl.delta_set_table_property(
        spark, table, "delta.dataSkippingNumIndexedCols", "1"
    )
    dl.write_delta_log(
        spark.range(50, 100).selectExpr(
            "id AS a", "id * 2 AS b", "id * 3 AS c"
        ).coalesce(1),
        table, mode="append",
    )
    files, *_ = dl.delta_snapshot(spark, table)
    stats = {
        rel: json.loads(add["stats"]) for rel, add in files.items()
    }
    narrow = [
        s for s in stats.values() if "b" not in s["minValues"]
    ]
    wide = [s for s in stats.values() if "b" in s["minValues"]]
    assert narrow and wide  # pre-property files keep full stats
    for s in narrow:
        assert "a" in s["minValues"] and "c" not in s["minValues"]
        assert s["numRecords"] == 50  # always recorded
    # a stats-pruned read on the UNINDEXED column must scan the
    # narrow file (no stats = cannot prune), never skip it
    got = dl.read_delta_pruned(spark, table, {"b": (150, 160)})
    ks = sorted(r["a"] for r in got.where("b between 150 and 160").collect())
    assert ks == [75, 76, 77, 78, 79, 80]

    # explicit stats-column list wins over N
    dl.delta_set_table_property(
        spark, table, "delta.dataSkippingStatsColumns", "c"
    )
    dl.write_delta_log(
        spark.range(100, 120).selectExpr(
            "id AS a", "id * 2 AS b", "id * 3 AS c"
        ).coalesce(1),
        table, mode="append",
    )
    files, *_ = dl.delta_snapshot(spark, table)
    newest = [
        json.loads(a["stats"])
        for a in files.values()
        if json.loads(a["stats"])["numRecords"] == 20
    ]
    assert newest
    for s in newest:
        assert "c" in s["minValues"]
        assert "a" not in s["minValues"] and "b" not in s["minValues"]


def test_log_retention_metadata_cleanup(spark, tmp_path):
    """delta.logRetentionDuration-aware metadata cleanup: commits
    below the newest checkpoint AND older than the window are
    deleted (JSONs, superseded checkpoints, .crc); the newest
    checkpoint and everything after always survive; time travel
    inside the window keeps working and outside raises; the default
    30-day window deletes nothing young."""
    import time_series_prediction_spark.sources.deltalog as dl

    table = str(tmp_path / "t")
    log = os.path.join(table, "_delta_log")
    for i in range(5):  # v0..v4
        dl.write_delta_log(
            spark.createDataFrame([(i, i)], "k long, v long"),
            table, mode="overwrite" if i == 0 else "append",
        )
    dl.write_checkpoint(spark, table)          # checkpoint at v4
    dl.delta_write_crc(spark, table)
    dl.write_delta_log(                         # v5 after the ceiling
        spark.createDataFrame([(9, 9)], "k long, v long"),
        table, mode="append",
    )
    # default 30-day retention: everything is young, nothing deleted
    assert dl.delta_cleanup_metadata(spark, table) == []

    # zero retention: delete below the newest checkpoint only
    dl.delta_set_table_property(  # v6
        spark, table, "delta.logRetentionDuration", "interval 0 days"
    )
    dl.write_checkpoint(spark, table)          # new ceiling at v6
    deleted = dl.delta_cleanup_metadata(spark, table)
    assert f"{0:020d}.json" in deleted
    assert f"{5:020d}.json" in deleted
    assert f"{4:020d}.checkpoint.parquet" in deleted  # superseded cp
    names = set(os.listdir(log))
    assert f"{6:020d}.json" in names            # ceiling survives
    assert f"{6:020d}.checkpoint.parquet" in names
    # the table still reads exactly; pre-cleanup versions raise
    assert dl.read_delta_log(spark, table).count() == 6
    assert dl.delta_snapshot(spark, table, version=6)[2] == 6
    with pytest.raises(ValueError, match="missing commit|no delta"):
        dl.delta_snapshot(spark, table, version=3)

    # parse fallback: garbage retention value falls back to 30 days
    dl.delta_set_table_property(  # v7
        spark, table, "delta.logRetentionDuration", "not-a-duration"
    )
    dl.write_checkpoint(spark, table)
    assert dl.delta_cleanup_metadata(spark, table) == []


def test_log_cleanup_contiguous_prefix_under_inversion(spark, tmp_path):
    """ADVICE r13 (low): per-file timestamp deletion can punch a HOLE
    in the log when mtime/ICT inversions occur (copied file, pre-ICT
    commits) — v deleted while v-1 survives, so time travel to any
    retained version above the hole raises. Cleanup must monotonize
    timestamps ascending and delete a CONTIGUOUS prefix, exactly
    delta-spark's BufferingLogDeletionIterator."""
    import time_series_prediction_spark.sources.deltalog as dl

    table = str(tmp_path / "t")
    log = os.path.join(table, "_delta_log")
    for i in range(5):  # v0..v4
        dl.write_delta_log(
            spark.createDataFrame([(i, i)], "k long, v long"),
            table, mode="overwrite" if i == 0 else "append",
        )
    dl.delta_set_table_property(  # v5
        spark, table, "delta.logRetentionDuration", "interval 0 days"
    )
    dl.write_checkpoint(spark, table)  # ceiling at v5

    def _set_ts(v: int, ts: int) -> None:
        p = os.path.join(log, f"{v:020d}.json")
        lines = open(p).read().splitlines()
        out = []
        for line in lines:
            d = json.loads(line)
            if "commitInfo" in d:
                d["commitInfo"]["timestamp"] = ts
                d["commitInfo"].pop("inCommitTimestamp", None)
            out.append(json.dumps(d))
        open(p, "w").write("\n".join(out) + "\n")
        # drop Hadoop LocalFileSystem's hidden checksum sidecar — the
        # direct rewrite invalidated it and fs.read_text would raise
        side = os.path.join(log, f".{v:020d}.json.crc")
        if os.path.exists(side):
            os.unlink(side)

    # v1's timestamp is INVERTED high (a copy bumped it); v2..v4 sit
    # between — naive per-file deletion at cutoff=3000 would delete
    # v0, v2, v3, v4 and retain v1: a hole right under the ceiling
    _set_ts(0, 1000)
    _set_ts(1, 5000)
    _set_ts(2, 2000)
    _set_ts(3, 2500)
    _set_ts(4, 2600)
    deleted = dl.delta_cleanup_metadata(spark, table, now_ms=3000)
    assert f"{0:020d}.json" in deleted
    # monotonization lifts v2..v4 above v1's 5000: all retained
    for v in (1, 2, 3, 4):
        assert f"{v:020d}.json" not in deleted
        assert os.path.exists(os.path.join(log, f"{v:020d}.json"))
    # the retained range is CONTIGUOUS — no hole between surviving
    # commits (v1..v5 all present), so incremental tail consumers
    # (delta_changes_since) can replay any window inside it
    surviving = sorted(
        int(n[:20]) for n in os.listdir(log)
        if n.endswith(".json") and n[:20].isdigit()
    )
    assert surviving == list(range(surviving[0], surviving[-1] + 1))
    assert dl.read_delta_log(spark, table).count() == 5
    ch = dl.delta_changes_since(spark, table, 1)
    assert ch[0].count() > 0  # tail replay across the retained range
    # a later cleanup past every timestamp clears the rest, still
    # leaving the ceiling intact
    deleted2 = dl.delta_cleanup_metadata(
        spark, table, now_ms=10_000_000
    )
    assert {f"{v:020d}.json" for v in (1, 2, 3, 4)} <= set(deleted2)
    assert dl.read_delta_log(spark, table).count() == 5


def test_writer_feature_gating(spark, tmp_path):
    """The spec's writer-side protocol obligation: a table declaring
    a writer feature this module does not implement must REFUSE
    writes (silently committing would corrupt the unknown feature's
    invariant) while reads stay open — writerFeatures never gate
    reads."""
    import time_series_prediction_spark.sources.deltalog as dl

    table = str(tmp_path / "t")
    dl.write_delta_log(
        spark.range(10).selectExpr("id AS k", "id * 2 AS v"), table
    )
    _f, meta, v, _t, proto = dl.delta_snapshot(spark, table)
    alien = {
        "minReaderVersion": 1,
        "minWriterVersion": 7,
        "writerFeatures": ["icebergCompatV2"],
    }
    fs = dl.fs_for(spark, table)
    dl._commit_json(
        fs, table, v + 1, [{"protocol": alien}], op="UPGRADE",
        meta=meta,
    )
    # reads stay open
    assert dl.read_delta_log(spark, table).count() == 10
    # every write path refuses, naming the feature
    with pytest.raises(dl.DeltaProtocolUnsupported, match="icebergCompatV2"):
        dl.write_delta_log(
            spark.createDataFrame([(99, 0)], "k long, v long"),
            table, mode="append",
        )
    with pytest.raises(dl.DeltaProtocolUnsupported):
        dl.delta_delete(spark, table, "k = 1")
    with pytest.raises(dl.DeltaProtocolUnsupported):
        dl.delta_update(spark, table, "k = 1", {"v": "v + 1"})
    with pytest.raises(dl.DeltaProtocolUnsupported):
        dl.delta_merge(
            spark, table,
            spark.createDataFrame([(1, 5)], "k long, v long"), key="k",
        )
    with pytest.raises(dl.DeltaProtocolUnsupported):
        dl.delta_optimize(spark, table, target_files=1)
    with pytest.raises(dl.DeltaProtocolUnsupported):
        dl.delta_reorg_purge(spark, table)
    # a minWriterVersion beyond 7 also refuses
    dl._commit_json(
        fs, table, v + 2,
        [{"protocol": {"minReaderVersion": 1, "minWriterVersion": 8}}],
        op="UPGRADE", meta=meta,
    )
    with pytest.raises(dl.DeltaProtocolUnsupported, match="minWriterVersion=8"):
        dl.write_delta_log(
            spark.createDataFrame([(99, 0)], "k long, v long"),
            table, mode="append",
        )


def test_timestamp_ntz_feature_stamped(spark, tmp_path):
    """TIMESTAMP_NTZ is feature-gated: a new table whose schema
    carries it declares timestampNtz (reader 3 / writer 7) on its
    first commit, schema evolution that ADDS an ntz column upgrades
    the protocol, and a plain-typed table stays at protocol (1, 2).
    Values roundtrip exactly."""
    import datetime as _dt

    import time_series_prediction_spark.sources.deltalog as dl

    plain = str(tmp_path / "plain")
    dl.write_delta_log(spark.range(3).selectExpr("id AS k"), plain)
    proto = dl.delta_snapshot(spark, plain)[4]
    assert int(proto["minWriterVersion"]) == 2  # no gratuitous gate

    table = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, _dt.datetime(2024, 5, 1, 12, 30))],
        "k long, ts timestamp_ntz",
    )
    dl.write_delta_log(df, table)
    proto = dl.delta_snapshot(spark, table)[4]
    assert "timestampNtz" in (proto.get("readerFeatures") or [])
    assert "timestampNtz" in (proto.get("writerFeatures") or [])
    got = dl.read_delta_log(spark, table).collect()
    assert got[0]["ts"] == _dt.datetime(2024, 5, 1, 12, 30)

    # evolution: adding an ntz column upgrades the plain table
    dl.write_delta_log(
        spark.createDataFrame(
            [(9, _dt.datetime(2024, 6, 1))], "k long, ts2 timestamp_ntz"
        ),
        plain, mode="append",
    )
    proto = dl.delta_snapshot(spark, plain)[4]
    assert "timestampNtz" in (proto.get("writerFeatures") or [])
    assert dl.read_delta_log(spark, plain).where(
        "ts2 IS NOT NULL"
    ).count() == 1


def test_incremental_optimize_absorbs_dml_rewrites(spark, tmp_path):
    """DML on a clustered table feeds the maintenance loop: a DV
    DELETE and a rewrite-shaped UPDATE leave DV-bearing / untagged
    files behind; the next incremental tick absorbs exactly those
    into a fresh ZCube (content identical, ids of untouched rows
    preserved, convergence to no-op), after which every live file
    carries a cube tag."""
    import time_series_prediction_spark.sources.deltalog as dl

    table = str(tmp_path / "t")
    dl.write_delta_log(
        spark.range(4000).selectExpr(
            "id % 50 AS grp", "id AS k", "id % 7 AS v"
        ),
        table, mode="overwrite",
    )
    dl.delta_enable_row_tracking(spark, table)
    dl.delta_cluster_by(spark, table, ["grp", "k"])
    dl.delta_optimize(spark, table, target_files=6)

    dl.delta_delete(spark, table, "k % 97 = 0")            # DV path
    dl.delta_update(
        spark, table, "k between 100 and 140", {"v": "v + 100"},
        max_dv_rows=0,  # force the rewrite-shaped path (untagged)
    )
    before = {
        (r["grp"], r["k"]): (r["v"], r["_row_id"])
        for r in dl.read_delta_with_row_ids(spark, table).collect()
    }
    dl.delta_optimize_incremental(spark, table, target_files=6)
    after = {
        (r["grp"], r["k"]): (r["v"], r["_row_id"])
        for r in dl.read_delta_with_row_ids(spark, table).collect()
    }
    # untouched rows keep ids; updated rows keep VALUES from the DML
    assert set(after) == set(before)
    assert all(
        after[key] == val
        for key, val in before.items()
        if not (100 <= key[1] <= 140)
    )
    assert all(
        after[key][0] == val[0] for key, val in before.items()
    )
    files, _m, v, _t, _p = dl.delta_snapshot(spark, table)
    assert all(
        (a.get("tags") or {}).get("ZCUBE_ID") for a in files.values()
    )
    assert not any(a.get("deletionVector") for a in files.values())
    assert dl.delta_optimize_incremental(spark, table) == v  # no-op


def test_convert_to_delta_in_place(spark, tmp_path):
    """CONVERT TO DELTA: a plain Hive-partitioned parquet directory
    becomes a native Delta table in ONE metadata commit — no data
    file rewritten, moved, or copied; partition columns carry their
    inferred types; per-file stats feed pruning immediately; DML,
    OPTIMIZE, and time travel (v0 = pre-conversion state) work;
    double conversion and empty dirs refuse."""
    import time_series_prediction_spark.sources.deltalog as dl

    table = str(tmp_path / "t")
    spark.range(200).selectExpr(
        "id AS k", "id % 4 AS part", "id * 2 AS v"
    ).write.partitionBy("part").parquet(table)

    def _data_files():
        out = []
        for root, _dirs, names in os.walk(table):
            if "_delta_log" in root:
                continue
            out.extend(
                os.path.join(root, n)
                for n in names
                if n.endswith(".parquet") and not n.startswith(".")
            )
        return sorted(out)

    before = {(f, os.stat(f).st_ino) for f in _data_files()}
    assert dl.delta_convert_to_delta(spark, table) == 0
    with pytest.raises(ValueError, match="already carries"):
        dl.delta_convert_to_delta(spark, table)
    # zero data movement: same files, same inodes
    assert {(f, os.stat(f).st_ino) for f in _data_files()} == before

    got = dl.read_delta_log(spark, table)
    assert got.count() == 200
    assert dict(got.where("k = 7").first().asDict()) == {
        "k": 7, "v": 14, "part": 7 % 4
    }
    # partition column type inferred (not a string)
    assert dict(got.dtypes)["part"] in ("int", "bigint")
    # stats landed: a narrow pruned read touches fewer files
    files, *_ = dl.delta_snapshot(spark, table)
    assert all(a.get("stats") for a in files.values())
    # the table now lives a Delta life: DV delete + append + travel
    dl.delta_delete(spark, table, "k % 50 = 0")
    dl.write_delta_log(
        spark.createDataFrame([(1000, 1, 2000)],
                              "k long, part bigint, v long"),
        table, mode="append", partition_cols=["part"],
    )
    assert dl.read_delta_log(spark, table).count() == 200 - 4 + 1
    assert dl.read_delta_log(spark, table, version=0).count() == 200

    empty = str(tmp_path / "empty")
    os.makedirs(empty)
    with pytest.raises(ValueError, match="no parquet files"):
        dl.delta_convert_to_delta(spark, empty)


def test_incremental_optimize_budget_fallback(
    spark, tmp_path, monkeypatch
):
    """The overlap sweep's comparison cap: when exceeded (degenerate
    stats — forced here with a zero budget factor), incremental
    OPTIMIZE degrades to the SOUND full-rewrite superset — correct
    content, ids preserved, never a wrong answer, just more rewrite
    than the multi-column test would need."""
    import time_series_prediction_spark.sources.deltalog as dl

    table = str(tmp_path / "t")
    dl.write_delta_log(
        spark.range(2000).selectExpr(
            "id % 10 AS grp", "id AS k", "id % 3 AS v"
        ),
        table, mode="overwrite",
    )
    dl.delta_enable_row_tracking(spark, table)
    dl.delta_cluster_by(spark, table, ["grp", "k"])
    dl.delta_optimize(spark, table, target_files=4)
    dl.write_delta_log(
        spark.range(100, 160).selectExpr(
            "id % 10 AS grp", "id AS k", "CAST(9 AS BIGINT) AS v"
        ),
        table, mode="append",
    )
    before = {
        (r["grp"], r["k"], r["v"]): r["_row_id"]
        for r in dl.read_delta_with_row_ids(spark, table).collect()
    }
    monkeypatch.setattr(dl, "_OVERLAP_BUDGET_FACTOR", 0)
    dl.delta_optimize_incremental(spark, table, target_files=4)
    after = {
        (r["grp"], r["k"], r["v"]): r["_row_id"]
        for r in dl.read_delta_with_row_ids(spark, table).collect()
    }
    assert after == before  # sound: content and ids intact


def test_writer_gate_covers_metadata_paths(spark, tmp_path):
    """The writer-side protocol gate also covers metadata writers:
    SET TBLPROPERTIES, ADD CONSTRAINT, ALTER COLUMN surface, CLUSTER
    BY, and RESTORE all refuse a table carrying an unknown writer
    feature."""
    import time_series_prediction_spark.sources.deltalog as dl

    table = str(tmp_path / "t")
    dl.write_delta_log(
        spark.range(10).selectExpr("id AS k", "id * 2 AS v"), table
    )
    dl.write_delta_log(
        spark.createDataFrame([(50, 1)], "k long, v long"),
        table, mode="append",
    )
    _f, meta, v, _t, _p = dl.delta_snapshot(spark, table)
    fs = dl.fs_for(spark, table)
    dl._commit_json(
        fs, table, v + 1,
        [{"protocol": {
            "minReaderVersion": 1, "minWriterVersion": 7,
            "writerFeatures": ["somethingNew"],
        }}],
        op="UPGRADE", meta=meta,
    )
    for op in (
        lambda: dl.delta_set_table_property(
            spark, table, "delta.appendOnly", "true"
        ),
        lambda: dl.delta_add_constraint(spark, table, "pos", "v >= 0"),
        lambda: dl.delta_enable_column_mapping(spark, table),
        lambda: dl.delta_cluster_by(spark, table, ["k"]),
        lambda: dl.delta_restore(spark, table, 0),
        lambda: dl.delta_enable_row_tracking(spark, table),
    ):
        with pytest.raises(
            dl.DeltaProtocolUnsupported, match="somethingNew"
        ):
            op()
    assert dl.read_delta_log(spark, table).count() == 11  # reads open


def test_history_surfaces_r13_operations(spark, tmp_path):
    """DESCRIBE HISTORY lists the r13 operation names — CONVERT,
    CLUSTER BY, OPTIMIZE INCREMENTAL, REORG PURGE — with
    operationMetrics on the data-bearing ones."""
    import time_series_prediction_spark.sources.deltalog as dl

    t = str(tmp_path / "t")
    spark.range(400).selectExpr(
        "id % 7 AS grp", "id AS k", "id % 3 AS v"
    ).write.parquet(t)
    dl.delta_convert_to_delta(spark, t)
    dl.delta_enable_column_mapping(spark, t)
    dl.delta_cluster_by(spark, t, ["grp", "k"])
    dl.delta_optimize(spark, t, target_files=2)
    dl.write_delta_log(  # overlaps the clustered k ranges
        spark.range(20, 40).selectExpr(
            "id % 7 AS grp", "id AS k", "CAST(9 AS BIGINT) AS v"
        ),
        t, mode="append",
    )
    dl.delta_optimize_incremental(spark, t, target_files=2)
    dl.delta_drop_column(spark, t, "v")
    dl.delta_reorg_purge(spark, t)
    ops = [h["operation"] for h in dl.delta_history(spark, t)]
    for want in (
        "CONVERT", "CLUSTER BY", "OPTIMIZE", "OPTIMIZE INCREMENTAL",
        "REORG PURGE",
    ):
        assert want in ops, (want, ops)
    reorg = next(
        h for h in dl.delta_history(spark, t)
        if h["operation"] == "REORG PURGE"
    )
    om = reorg.get("operationMetrics") or {}
    assert int(om.get("numAddedFiles", 0)) >= 1
    assert int(om.get("numRemovedFiles", 0)) >= 1
