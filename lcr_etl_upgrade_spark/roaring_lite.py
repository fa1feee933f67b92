"""Pure-Python (numpy) codecs for the two PUBLIC formats Delta deletion
vectors are built from — no roaring/bitmap package dependency:

- **Z85** (ZeroMQ spec 32/Z85): the ASCII armor Delta uses for inline
  deletion vectors and for the UUID part of on-disk DV file names.
- **RoaringBitmapArray** (Delta's 64-bit extension of the public
  RoaringFormatSpec "portable" serialization): a little-endian magic
  ``1681511377``, an i64 count of 32-bit bitmaps, then that many
  standard portable 32-bit roaring bitmaps back-to-back; the i-th
  bitmap holds the low 32 bits of values whose high 32 bits equal i.

Both are parsed defensively: any structural violation raises
``ValueError`` with the offending detail — a deletion vector read must
never silently drop or invent deleted rows.

One generator (``iter_roaring_containers``, per-container sorted uint16
lows) is the single implementation every reader shares, so the count,
collect and container paths can never diverge structurally:

- ``parse_roaring_bitmap_array`` — full value set (small bitmaps, tests);
- ``count_roaring_bitmap_array`` — exact distinct count in O(one
  container) memory;
- ``iter_roaring_bitmap_array`` — per-container value sets;
- ``iter_roaring_containers`` — the containers themselves: delta_lite's
  DV reader ships them to Spark for expansion, and its DV writer unions
  old containers with new ones.

The write direction is one framer, ``frame_roaring_bitmap_array``, over
canonical containers (``container_payload``); ``serialize_roaring_bitmap_array``
is the value-set front end to it.

Used by ``delta_lite`` (deletionVectors reader feature); cites only the
public specs (delta.io PROTOCOL.md "Deletion Vectors", RoaringFormatSpec,
rfc.zeromq.org/spec/32).
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np

_Z85_CHARS = (
    "0123456789abcdefghijklmnopqrstuvwxyz"
    "ABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#"
)
_Z85_INDEX = {c: i for i, c in enumerate(_Z85_CHARS)}

ROARING_ARRAY_MAGIC = 1681511377  # delta's RoaringBitmapArray magic
_COOKIE_RUN = 12347  # SERIAL_COOKIE (run containers possible)
_COOKIE_NO_RUN = 12346  # SERIAL_COOKIE_NO_RUNCONTAINER
_NO_OFFSET_THRESHOLD = 4


def z85_decode(text: str) -> bytes:
    """Z85 (ZeroMQ spec 32) decode: 5 ASCII chars -> 4 bytes, big-endian
    base-85."""
    if len(text) % 5 != 0:
        raise ValueError(f"z85 length {len(text)} is not a multiple of 5")
    out = bytearray()
    for i in range(0, len(text), 5):
        acc = 0
        for ch in text[i : i + 5]:
            try:
                acc = acc * 85 + _Z85_INDEX[ch]
            except KeyError:
                raise ValueError(f"invalid z85 character {ch!r}") from None
        if acc > 0xFFFFFFFF:
            raise ValueError(f"z85 group {text[i:i+5]!r} overflows 32 bits")
        out += acc.to_bytes(4, "big")
    return bytes(out)


def z85_encode(data: bytes) -> str:
    """Inverse of :func:`z85_decode` (used only by tests/fixtures)."""
    if len(data) % 4 != 0:
        raise ValueError(f"z85 input length {len(data)} not a multiple of 4")
    out = []
    for i in range(0, len(data), 4):
        acc = int.from_bytes(data[i : i + 4], "big")
        group = []
        for _ in range(5):
            acc, rem = divmod(acc, 85)
            group.append(_Z85_CHARS[rem])
        out.extend(reversed(group))
    return "".join(out)


def iter_roaring_containers(
    data: bytes, max_values: int | None = None
) -> Iterator[tuple[int, np.ndarray]]:
    """THE walker: validate a whole RoaringBitmapArray structurally and
    yield ``(key, lows)`` per container, where ``key`` is the 48-bit
    container key (bitmap index << 16 | 16-bit container key) and
    ``lows`` the container's sorted distinct low 16 bits (uint16) — the
    container holds ``(key << 16) | low`` for each low. Every other
    reader (count, collect, stream, the delta_lite DV paths) goes
    through here, so none can disagree on what a blob contains. Memory
    is O(one container): at most 65,536 values.

    Per the spec: container keys strictly increase within a bitmap
    (violations raise — silent cross-container dedup would let a
    streamed count and a collected set disagree), and a run must stay
    inside its container's 16-bit space (a run crossing 0xFFFF would
    spill values into the NEXT container's keyspace — same divergence,
    raised instead). ``max_values`` bounds the running total of ACTUAL
    distinct content, checked after each container — never the
    descriptive header's cardinality claim, which this walker tolerates
    overstating (duplicate array values, overlapping runs): counting
    the claim would make a blob pass the driver's count-based verify
    yet fail the same-bound expansion later. The overshoot is capped at
    one container (≤65,536 values) before the raise. The final
    trailing-bytes check runs when the iterator is exhausted."""
    if len(data) < 12:
        raise ValueError(f"deletion-vector bitmap too short ({len(data)} B)")
    magic, n_bitmaps = struct.unpack_from("<iq", data, 0)
    if magic != ROARING_ARRAY_MAGIC:
        raise ValueError(
            f"bad RoaringBitmapArray magic {magic} "
            f"(expected {ROARING_ARRAY_MAGIC})"
        )
    if n_bitmaps < 0:
        raise ValueError(f"negative bitmap count {n_bitmaps}")
    pos = 12
    total = 0

    def need(n: int, what: str) -> None:
        if pos + n > len(data):
            raise ValueError(f"truncated roaring bitmap: {what}")

    for bm in range(n_bitmaps):
        need(4, "cookie")
        (cookie,) = struct.unpack_from("<I", data, pos)
        pos += 4
        if (cookie & 0xFFFF) == _COOKIE_RUN:
            n_containers = (cookie >> 16) + 1
            run_bits_len = (n_containers + 7) // 8
            need(run_bits_len, "run-flag bitset")
            run_bitset = data[pos : pos + run_bits_len]
            pos += run_bits_len
            has_offsets = n_containers >= _NO_OFFSET_THRESHOLD
        elif cookie == _COOKIE_NO_RUN:
            need(4, "container count")
            (n_containers,) = struct.unpack_from("<I", data, pos)
            pos += 4
            run_bitset = b"\x00" * ((n_containers + 7) // 8)
            has_offsets = True
        else:
            raise ValueError(f"bad roaring cookie {cookie:#x}")
        need(4 * n_containers, "descriptive headers")
        headers = np.frombuffer(
            data, dtype="<u2", count=2 * n_containers, offset=pos
        ).reshape(-1, 2)
        pos += 4 * n_containers
        if has_offsets:
            # offsets enable random access; sequential parse ignores them
            need(4 * n_containers, "offsets")
            pos += 4 * n_containers
        prev_key = -1
        for i, (key, card_minus_1) in enumerate(headers.tolist()):
            if key <= prev_key:
                raise ValueError(
                    f"roaring container keys not strictly increasing "
                    f"({key} after {prev_key})"
                )
            prev_key = key
            cardinality = card_minus_1 + 1
            if run_bitset[i // 8] & (1 << (i % 8)):
                need(2, "run count")
                (n_runs,) = struct.unpack_from("<H", data, pos)
                pos += 2
                need(4 * n_runs, "runs")
                runs = np.frombuffer(
                    data, dtype="<u2", count=2 * n_runs, offset=pos
                ).reshape(-1, 2).astype(np.int64)
                pos += 4 * n_runs
                ends = runs[:, 0] + runs[:, 1]  # inclusive
                if (ends > 0xFFFF).any():
                    start, length = runs[np.argmax(ends > 0xFFFF)].tolist()
                    raise ValueError(
                        f"roaring run ({start}, len {length}) crosses "
                        "the container's 16-bit boundary"
                    )
                # +1 at each run start, -1 past each end: the prefix sum
                # is > 0 exactly on covered values (overlaps merge)
                edges = np.zeros(0x10001, dtype=np.int32)
                np.add.at(edges, runs[:, 0], 1)
                np.add.at(edges, ends + 1, -1)
                lows = np.flatnonzero(np.cumsum(edges[:-1]) > 0)
            else:
                is_array = cardinality <= 4096
                size = 2 * cardinality if is_array else 8192
                need(size, "array container" if is_array else "bitset container")
                lows = container_lows(cardinality, data[pos : pos + size])
                if is_array:  # stored values may repeat or be unsorted
                    lows = np.unique(lows)
                pos += size
            total += len(lows)
            if max_values is not None and total > max_values:
                raise ValueError(
                    f"roaring bitmap exceeds the {max_values}-value "
                    "materialization bound (container content)"
                )
            yield (bm << 16) | key, lows.astype(np.uint16)
    if pos != len(data):
        raise ValueError(
            f"{len(data) - pos} trailing bytes after the last bitmap"
        )


def _values(key: int, lows: np.ndarray) -> list[int]:
    """A container's 64-bit values as Python ints."""
    return (np.uint64(key << 16) + lows.astype(np.uint64)).tolist()


def parse_roaring_bitmap_array(
    data: bytes, max_values: int | None = None
) -> set[int]:
    """Delta RoaringBitmapArray serialization -> set of 64-bit values.

    Layout: i32 LE magic 1681511377, i64 LE bitmap count, then that many
    portable 32-bit bitmaps; bitmap i contributes ``(i << 32) | v32``.
    ``max_values`` bounds materialization during the parse (ValueError
    on breach, before memory is spent)."""
    out: set[int] = set()
    for key, lows in iter_roaring_containers(data, max_values):
        out.update(_values(key, lows))
    return out


def count_roaring_bitmap_array(data: bytes) -> int:
    """Exact distinct-value count of a Delta RoaringBitmapArray — same
    structural validation and the same result as
    ``len(parse_roaring_bitmap_array(data))`` (shared walker), in
    O(one container) memory."""
    return sum(len(lows) for _, lows in iter_roaring_containers(data))


def iter_roaring_bitmap_array(
    data: bytes, max_values: int | None = None
) -> Iterator[set[int]]:
    """Stream the values of a Delta RoaringBitmapArray as per-container
    sets (each ≤ 65,536 values) in O(one container) memory. Same
    validation, same values as :func:`parse_roaring_bitmap_array` by
    construction."""
    for key, lows in iter_roaring_containers(data, max_values):
        yield set(_values(key, lows))


def container_payload(lows: np.ndarray) -> bytes:
    """Sorted distinct uint16 lows -> the container's serialized data:
    an ARRAY container (little-endian u16 values) up to 4096 values, a
    BITSET container (1024 little-endian u64 words, bit ``v`` of the
    container at word ``v >> 6``, bit ``v & 63``) beyond — the
    RoaringFormatSpec's cardinality rule, so equal value sets always
    serialize identically."""
    if len(lows) <= 4096:
        return np.asarray(lows, dtype="<u2").tobytes()
    bits = np.zeros(0x10000, dtype=np.uint8)
    bits[lows] = 1
    return np.packbits(bits, bitorder="little").tobytes()


def container_lows(card: int, payload: bytes) -> np.ndarray:
    """Inverse of :func:`container_payload`: the uint16 lows of a
    container of ``card`` values (an array container's as stored)."""
    if card <= 4096:
        return np.frombuffer(payload, dtype="<u2").astype(np.uint16)
    return np.flatnonzero(
        np.unpackbits(np.frombuffer(payload, dtype=np.uint8), bitorder="little")
    ).astype(np.uint16)


def frame_roaring_bitmap_array(
    containers: list[tuple[int, int, bytes]],
) -> bytes:
    """``(key, cardinality, payload)`` containers, keys strictly
    increasing, payloads as :func:`container_payload` builds them ->
    Delta RoaringBitmapArray bytes. Emits the
    SERIAL_COOKIE_NO_RUNCONTAINER layout — always-valid per the
    RoaringFormatSpec (run containers are an optional optimization) and
    exactly what the walker above validates: offset headers always
    present under the no-run cookie. Bitmap i holds the containers whose
    key's high 32 bits equal i; empty intermediate bitmaps are emitted
    so the index-is-high-part invariant holds."""
    n_bitmaps = (containers[-1][0] >> 16) + 1 if containers else 0
    # the array indexes bitmaps by high word, emitting EMPTY bitmaps for
    # gaps — so one huge value drives the loop (2^63 -> 2^31 iterations,
    # ~17 GiB of empties). Row indexes are per-FILE positions; 2^44
    # (4096 bitmaps, <=32 KiB of empties) is absurdly beyond any real
    # file, so refuse rather than hang.
    if n_bitmaps > 4096:
        raise ValueError(
            f"container key {containers[-1][0]} needs {n_bitmaps} bitmaps "
            "(> 4096); refusing to serialize a pathological sparse range"
        )
    by_bitmap: dict[int, list[tuple[int, int, bytes]]] = {}
    for key, card, payload in containers:
        by_bitmap.setdefault(key >> 16, []).append((key & 0xFFFF, card, payload))
    out = bytearray(struct.pack("<iq", ROARING_ARRAY_MAGIC, n_bitmaps))
    for bm in range(n_bitmaps):
        cs = by_bitmap.get(bm, [])
        out += struct.pack("<II", _COOKIE_NO_RUN, len(cs))
        for key, card, _ in cs:  # descriptive headers
            out += struct.pack("<HH", key, card - 1)
        # offsets: byte position of each container's data from the
        # START of this bitmap's serialization (cookie byte 0)
        running = 8 + 8 * len(cs)
        for _, _, payload in cs:
            out += struct.pack("<I", running)
            running += len(payload)
        for _, _, payload in cs:
            out += payload
    return bytes(out)


def serialize_roaring_bitmap_array(values) -> bytes:
    """Set/iterable of 64-bit row indexes -> Delta RoaringBitmapArray
    bytes, the WRITE direction of :func:`parse_roaring_bitmap_array`:
    values grouped into containers (:func:`container_payload`) and
    framed (:func:`frame_roaring_bitmap_array`). Round-trip identity with
    the parser is pinned by test for every container kind and boundary."""
    vals = sorted(set(int(v) for v in values))
    if vals and (vals[0] < 0 or vals[-1] >= (1 << 64)):
        raise ValueError("row indexes must be unsigned 64-bit")
    arr = np.array(vals, dtype=np.uint64)
    keys, starts = np.unique(arr >> np.uint64(16), return_index=True)
    return frame_roaring_bitmap_array(
        [
            (key, len(lows), container_payload(lows))
            for key, lows in zip(
                keys.tolist(),
                np.split((arr & np.uint64(0xFFFF)).astype(np.uint16), starts[1:]),
            )
        ]
    )
