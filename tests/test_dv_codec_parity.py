"""Parity of delta_lite's Spark-built deletion-vector paths with the
pure-Python roaring_lite codec.

Write side: matched positions go through the Spark container aggregate
and the driver-side union (``_dv_union_blobs``); the framed blob must
equal ``serialize_roaring_bitmap_array`` of the same position set, byte
for byte. Read side: ``_dv_positions`` expands the driver-parsed
containers on executors; the rows must equal
``parse_roaring_bitmap_array`` of the blob. The cases cover the 4096 vs
4097 array/bitset cut, container keys 0 and >= 1, positions >= 2^32 (the
second 32-bit bitmap of a RoaringBitmapArray), an old DV holding run
containers (cookie 12347), and matches that are all already masked."""

from __future__ import annotations

import random
import struct

import pyarrow as pa
import pytest

from lcr_etl_upgrade_spark import delta_lite as dl
from lcr_etl_upgrade_spark.roaring_lite import (
    ROARING_ARRAY_MAGIC,
    parse_roaring_bitmap_array,
    serialize_roaring_bitmap_array,
    z85_encode,
)

BASE = "/parity/table"
F0, F1 = "part-0.parquet", "part-1.parquet"


def _inline(blob: bytes) -> dict:
    return {
        "storageType": "i",
        "pathOrInlineDv": z85_encode(blob + b"\x00" * ((-len(blob)) % 4)),
        "offset": None,
        "sizeInBytes": len(blob),
        "cardinality": len(parse_roaring_bitmap_array(blob)),
    }


def _run_blob(runs_by_key: dict[int, list[tuple[int, int]]]) -> bytes:
    """A one-bitmap RoaringBitmapArray whose containers are all RUN
    containers (cookie 12347, no offsets below 4 containers)."""
    keys = sorted(runs_by_key)
    n = len(keys)
    out = struct.pack("<I", 12347 | ((n - 1) << 16))
    out += bytes([(1 << n) - 1])  # every container is a run container
    for k in keys:
        card = sum(length + 1 for _, length in runs_by_key[k])
        out += struct.pack("<HH", k, card - 1)
    for k in keys:
        out += struct.pack("<H", len(runs_by_key[k]))
        for start, length in runs_by_key[k]:
            out += struct.pack("<HH", start, length)
    return struct.pack("<iq", ROARING_ARRAY_MAGIC, 1) + out


def _matched(spark, positions: dict[str, set[int]]):
    files, pos = [], []
    for rel, ps in positions.items():
        files += [dl._dv_file_key(BASE, rel)] * len(ps)
        pos += sorted(ps)
    return spark.createDataFrame(
        pa.table({"__file": pa.array(files, pa.string()),
                  "__pos": pa.array(pos, pa.int64())})
    )


def _union(spark, new: dict[str, set[int]], old: dict[str, dict] = {}):
    return {
        fname: (blob, card)
        for fname, blob, card in dl._dv_union_blobs(
            spark, BASE, _matched(spark, new), old
        )
    }


rng = random.Random(20261017)
CASES = {
    "array_4096": set(range(0, 8192, 2)),  # exactly 4096 in key 0
    "bitset_4097": set(range(0, 8194, 2)),  # 4097 in key 0
    "key0_and_key1": {3, 65535, 65536, 65537 + 7, 3 * 65536 + 1},
    "mixed_dense_sparse": set(range(70000, 80000))
    | {rng.randrange(1 << 20) for _ in range(300)},
    "above_2_32": {5, (1 << 32) + 5, (1 << 32) + 70000, (2 << 32) | 0xFFFF},
    "bitset_above_2_32": {(1 << 32) + v for v in range(40000, 50000, 2)},
    "random": {rng.randrange(1 << 18) for _ in range(9000)},
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_write_side_matches_serializer(spark, name):
    positions = CASES[name]
    got = _union(spark, {F0: positions})
    key = dl._dv_file_key(BASE, F0)
    assert list(got) == [key]
    blob, card = got[key]
    assert blob == serialize_roaring_bitmap_array(positions)
    assert card == len(positions)


def test_write_side_unions_old_run_containers(spark):
    """An old DV written by another engine with run containers (cookie
    12347) unions per container with the new positions; containers only
    the old DV holds carry over, and the result is the serializer's
    bytes for the union."""
    old_blob = _run_blob({0: [(0, 99), (4000, 5000)], 2: [(10, 0)], 5: [(0, 65535)]})
    old = parse_roaring_bitmap_array(old_blob)
    new_f0 = {50, 100, 101, 9000, 2 * 65536 + 10, 3 * 65536 + 4}
    new_f1 = {(1 << 32) + 1, 2}
    got = _union(
        spark,
        {F0: new_f0, F1: new_f1},
        {F0: _inline(old_blob)},
    )
    assert sorted(got) == sorted(
        [dl._dv_file_key(BASE, F0), dl._dv_file_key(BASE, F1)]
    )
    blob0, card0 = got[dl._dv_file_key(BASE, F0)]
    assert blob0 == serialize_roaring_bitmap_array(old | new_f0)
    assert card0 == len(old | new_f0)
    blob1, _ = got[dl._dv_file_key(BASE, F1)]
    assert blob1 == serialize_roaring_bitmap_array(new_f1)


def test_write_side_skips_files_already_masked(spark):
    """Every match already masked: nothing to commit for that file; a
    file that did grow is still emitted."""
    old_blob = serialize_roaring_bitmap_array(set(range(0, 5000)))
    got = _union(
        spark,
        {F0: {1, 2, 4999}, F1: {7}},
        {F0: _inline(old_blob)},
    )
    assert list(got) == [dl._dv_file_key(BASE, F1)]
    assert not _union(spark, {F0: {0, 4096}}, {F0: _inline(old_blob)})


def test_fully_masked_delete_commits_nothing(spark, tmp_path):
    path = str(tmp_path / "masked")
    dl.write_delta_lite(
        spark.range(20).selectExpr("id", "id * 2 AS v").coalesce(1),
        path,
        mode="overwrite",
    )
    v = dl.delete_rows(spark, path, "id < 10")
    assert dl.delete_rows(spark, path, "id < 5") == v
    assert sorted(r.id for r in dl.read_delta_lite(spark, path).collect()) == (
        list(range(10, 20))
    )


def _expanded(spark, blobs: dict[str, bytes]) -> dict[str, set[int]]:
    verified = {rel: dl._dv_containers(rel, {}, b) for rel, b in blobs.items()}
    df = dl._dv_positions(spark, BASE, verified, list(blobs))
    out: dict[str, set[int]] = {dl._dv_file_key(BASE, r): set() for r in blobs}
    if df is not None:
        for r in df.collect():
            assert r["__dv_idx"] not in out[r["__dv_file"]]  # no duplicates
            out[r["__dv_file"]].add(r["__dv_idx"])
    return out


def test_read_side_matches_parser(spark):
    blobs = {
        f"f{i}.parquet": serialize_roaring_bitmap_array(ps)
        for i, ps in enumerate(CASES[n] for n in sorted(CASES))
    }
    blobs["runs.parquet"] = _run_blob(
        {0: [(0, 99), (65000, 535)], 1: [(0, 65535)], 7: [(3, 0)]}
    )
    got = _expanded(spark, blobs)
    for rel, blob in blobs.items():
        assert got[dl._dv_file_key(BASE, rel)] == parse_roaring_bitmap_array(
            blob
        ), rel


def test_read_side_bit_63_and_empty(spark):
    """A bitset word with only bit 63 set is a negative long in Spark:
    the bit test must still find it. An empty DV expands to nothing."""
    word_tops = {64 * w + 63 for w in range(0, 1024, 3)} | set(range(4096))
    got = _expanded(
        spark,
        {
            F0: serialize_roaring_bitmap_array(word_tops),
            F1: serialize_roaring_bitmap_array(set()),
        },
    )
    assert got[dl._dv_file_key(BASE, F0)] == word_tops
    assert got[dl._dv_file_key(BASE, F1)] == set()
    empty = dl._dv_containers(F1, {}, serialize_roaring_bitmap_array(set()))
    assert dl._dv_positions(spark, BASE, {F1: empty}, [F1]) is None
