"""Puffin / deletion-vector format tests (no Spark).

The reader half is what production tables hit (Iceberg v3 DVs); the
writer half is the test-fixture generator. Roundtrips alone can't
prove spec conformance (a shared misreading would roundtrip fine), so
the reader is ALSO checked against hand-packed byte sequences built
directly from the published layouts: RoaringFormatSpec for the bitmap
containers, the Iceberg v3 table spec for the blob framing, the Puffin
spec for the container."""

import json
import os
import struct
import zlib

import numpy as np
import pytest

from embulk_input_parquet_hadoop_spark.sources import puffin


# ---------------------------------------------------------------------
# roundtrips across container regimes
# ---------------------------------------------------------------------

def test_roaring64_roundtrip_fuzz():
    rng = np.random.default_rng(4242)
    cases = [
        np.array([0]),
        np.array([65535]),                      # container boundary
        np.array([65536]),                      # next 16-bit key
        np.arange(4096),                        # exactly ARRAY_MAX
        np.arange(4097),                        # first bitmap container
        rng.choice(2**16, 5000, replace=False),  # bitmap, random
        rng.choice(2**20, 30000, replace=False),  # many keys
        np.array([2**32 - 1, 2**32, 2**33 + 7, 2**40, 2**62]),
        rng.choice(2**45, 2000, replace=False),  # sparse high buckets
        np.concatenate([np.arange(100, 200), np.arange(70000, 70050),
                        np.array([2**35 + 3])]),
    ]
    for i, c in enumerate(cases):
        want = np.unique(c.astype(np.int64))
        for runs in (False, True):
            bm = puffin.roaring64_write(want, use_runs=runs)
            got, end = puffin.roaring64_read(memoryview(bm))
            assert end == len(bm), (i, runs)
            assert np.array_equal(got, want), (i, runs)
            blob = puffin.dv_blob(want, use_runs=runs)
            assert np.array_equal(puffin.decode_dv_blob(blob), want)


def test_roaring64_empty():
    bm = puffin.roaring64_write(np.array([], dtype=np.int64))
    got, end = puffin.roaring64_read(memoryview(bm))
    assert len(got) == 0 and end == len(bm) == 8


def test_negative_position_refused():
    with pytest.raises(puffin.PuffinError, match="negative"):
        puffin.roaring64_write(np.array([-1, 3]))


# ---------------------------------------------------------------------
# reader vs hand-packed spec bytes (writer-independent)
# ---------------------------------------------------------------------

def _bucketed(high: int, bitmap32: bytes) -> bytes:
    """Wrap one 32-bit serialization as a 1-bucket portable roaring64."""
    return struct.pack("<Q", 1) + struct.pack("<I", high) + bitmap32


def test_known_bytes_array_container():
    # RoaringFormatSpec: no-run cookie 12346, u32 count, then per
    # container (u16 key, u16 card-1), u32 offsets, then sorted u16s
    body = struct.pack("<II", 12346, 1)
    body += struct.pack("<HH", 0, 2)          # key 0, card 3
    body += struct.pack("<I", len(body) + 4)  # offset past this u32
    body += struct.pack("<HHH", 1, 5, 9)
    got, end = puffin.roaring64_read(memoryview(_bucketed(0, body)))
    assert end == 12 + len(body)
    assert got.tolist() == [1, 5, 9]


def test_known_bytes_array_container_high_bucket():
    body = struct.pack("<II", 12346, 1)
    body += struct.pack("<HH", 2, 0)          # key 2 -> values | 2<<16
    body += struct.pack("<I", len(body) + 4)
    body += struct.pack("<H", 7)
    got, _ = puffin.roaring64_read(memoryview(_bucketed(3, body)))
    assert got.tolist() == [(3 << 32) | (2 << 16) | 7]


def test_known_bytes_run_container_no_offsets():
    # run cookie 12347 with (n-1)<<16, run-flag bitset, NO offset header
    # when n < 4: runs (value, length-1) pairs per CRoaring rle16_t
    body = struct.pack("<I", 12347 | (0 << 16))
    body += b"\x01"                            # container 0 is a run
    body += struct.pack("<HH", 0, 4)           # key 0, card 5
    body += struct.pack("<H", 2)               # two runs
    body += struct.pack("<HH", 10, 1)          # 10, 11
    body += struct.pack("<HH", 20, 2)          # 20, 21, 22
    got, end = puffin.roaring64_read(memoryview(_bucketed(0, body)))
    assert end == 12 + len(body)
    assert got.tolist() == [10, 11, 20, 21, 22]


def test_known_bytes_bitmap_container():
    # card 4097 forces a bitmap container: 8192 bytes, little-endian
    # bit i of byte i>>3 = value i present
    vals = list(range(4096)) + [8191]
    bits = bytearray(8192)
    for v in vals:
        bits[v >> 3] |= 1 << (v & 7)
    body = struct.pack("<II", 12346, 1)
    body += struct.pack("<HH", 0, len(vals) - 1)
    body += struct.pack("<I", len(body) + 4)
    body += bytes(bits)
    got, _ = puffin.roaring64_read(memoryview(_bucketed(0, body)))
    assert got.tolist() == vals


def test_known_bytes_run_cookie_with_offsets():
    # >= 4 containers under the run cookie DO carry an offset header
    n = 4
    body = struct.pack("<I", 12347 | ((n - 1) << 16))
    body += bytes([0x0F])  # all four are runs
    for k in range(n):
        body += struct.pack("<HH", k, 0)  # card 1 each
    descr_end = len(body) + 4 * n
    containers = b""
    offs = []
    for k in range(n):
        offs.append(descr_end + len(containers))
        containers += struct.pack("<HHH", 1, k + 1, 0)  # 1 run: [k+1]
    for o in offs:
        body += struct.pack("<I", o)
    body += containers
    got, end = puffin.roaring64_read(memoryview(_bucketed(0, body)))
    assert end == 12 + len(body)
    assert got.tolist() == [(k << 16) | (k + 1) for k in range(4)]


def test_bad_cookie_raises():
    body = struct.pack("<II", 99, 0)
    with pytest.raises(puffin.PuffinError, match="cookie"):
        puffin.roaring64_read(memoryview(_bucketed(0, body)))


def test_bucket_key_above_int63_refused():
    body = struct.pack("<II", 12346, 0)
    with pytest.raises(puffin.PuffinError, match="int64"):
        puffin.roaring64_read(memoryview(_bucketed(2**31, body)))


# ---------------------------------------------------------------------
# deletion-vector blob framing
# ---------------------------------------------------------------------

def test_dv_blob_layout_matches_spec():
    """BE length of magic+vector, magic D1 D3 3D ED, portable roaring64,
    BE CRC-32 of magic+vector — checked field by field."""
    blob = puffin.dv_blob([1, 2, 3])
    bm = puffin.roaring64_write([1, 2, 3])
    assert blob[:4] == struct.pack(">I", 4 + len(bm))
    assert blob[4:8] == b"\xd1\xd3\x3d\xed"
    assert blob[8:8 + len(bm)] == bm
    crc = zlib.crc32(blob[4:8 + len(bm)]) & 0xFFFFFFFF
    assert blob[-4:] == struct.pack(">I", crc)


def test_dv_blob_crc_mismatch():
    blob = bytearray(puffin.dv_blob(range(100)))
    blob[15] ^= 0xFF
    with pytest.raises(puffin.PuffinError, match="CRC"):
        puffin.decode_dv_blob(bytes(blob))


def test_dv_blob_truncated_and_bad_magic():
    blob = puffin.dv_blob([5])
    with pytest.raises(puffin.PuffinError, match="length prefix"):
        puffin.decode_dv_blob(blob[:-1])
    with pytest.raises(puffin.PuffinError, match="too short"):
        puffin.decode_dv_blob(blob[:8])
    bad = bytearray(blob)
    bad[4] = 0x00
    with pytest.raises(puffin.PuffinError, match="magic"):
        puffin.decode_dv_blob(bytes(bad))


def test_dv_blob_trailing_garbage_in_body():
    # a CRC-valid body whose bitmap ends before the declared length is
    # a framing bug upstream — must raise, not silently ignore bytes
    bm = puffin.roaring64_write([1]) + b"XX"
    body = puffin.DV_MAGIC + bm
    blob = (struct.pack(">I", len(body)) + body
            + struct.pack(">I", zlib.crc32(body) & 0xFFFFFFFF))
    with pytest.raises(puffin.PuffinError, match="trailing"):
        puffin.decode_dv_blob(blob)


# ---------------------------------------------------------------------
# puffin container
# ---------------------------------------------------------------------

def test_puffin_roundtrip_and_ranged_reads(tmp_path):
    p = str(tmp_path / "dv.puffin")
    dvs = {"/d/a.parquet": np.array([1, 5, 9]),
           "/d/b.parquet": np.arange(0, 200000, 3)}
    locs = puffin.write_dv_puffin(p, dvs, snapshot_id=7,
                                  sequence_number=2)
    data = open(p, "rb").read()
    (size,) = struct.unpack_from("<i", data, len(data) - 12)
    whole = json.loads(data[len(data) - 12 - size:len(data) - 12])
    ranged = puffin.read_footer_path(p)
    assert whole == ranged
    blobs = puffin.dv_blobs_from_footer(ranged)
    assert {b["referenced"] for b in blobs} == set(dvs)
    for b in blobs:
        assert locs[b["referenced"]]["offset"] == b["offset"]
        got = puffin.read_dv(p, b["offset"], b["length"])
        assert np.array_equal(got, np.unique(dvs[b["referenced"]]))
    metas = {b["properties"]["referenced-data-file"]: b
             for b in ranged["blobs"]}
    for ref, dv in dvs.items():
        assert metas[ref]["snapshot-id"] == 7
        assert metas[ref]["sequence-number"] == 2
        assert metas[ref]["properties"]["cardinality"] == \
            str(len(np.unique(dv)))


def test_puffin_on_object_store(tmp_path):
    """write_dv_puffin publishes via fsutil.put_bytes and reads are
    ranged — both must work against the PUT-only mock object store."""
    uri = f"mock-s3://bucket{tmp_path}/dv.puffin"
    puffin.write_dv_puffin(uri, {"/d/a.parquet": [2, 4]})
    blobs = puffin.dv_blobs_from_footer(puffin.read_footer_path(uri))
    got = puffin.read_dv(uri, blobs[0]["offset"], blobs[0]["length"])
    assert got.tolist() == [2, 4]


def test_puffin_footer_errors(tmp_path):
    good = bytearray()
    payload = json.dumps({"blobs": []}).encode()
    good += puffin.MAGIC + puffin.MAGIC + payload
    good += struct.pack("<i", len(payload)) + b"\x00\x00\x00\x00"
    good += puffin.MAGIC

    def footer(data: bytearray) -> dict:
        p = tmp_path / "footer.puffin"
        p.write_bytes(bytes(data))
        return puffin.read_footer_path(str(p))

    assert footer(good) == {"blobs": []}
    bad_tail = bytearray(good)
    bad_tail[-4:] = b"XXXX"
    with pytest.raises(puffin.PuffinError, match="footer magic"):
        footer(bad_tail)
    bad_start = bytearray(good)
    bad_start[4:8] = b"XXXX"  # the footer's own start magic
    with pytest.raises(puffin.PuffinError, match="start magic"):
        footer(bad_start)
    compressed = bytearray(good)
    compressed[-8] = 0x01  # flag bit 0: lz4 footer payload
    with pytest.raises(puffin.PuffinError, match="lz4"):
        footer(compressed)
    unknown = bytearray(good)
    unknown[-7] = 0x80
    with pytest.raises(puffin.PuffinError, match="flags"):
        footer(unknown)
    short = good[:10]
    with pytest.raises(puffin.PuffinError, match="short"):
        footer(short)
    missized = bytearray(good)
    struct.pack_into("<i", missized, len(missized) - 12,
                     len(payload) + 2)
    with pytest.raises(puffin.PuffinError, match="footer"):
        footer(missized)


def test_compressed_dv_blob_refused():
    meta = {"blobs": [{"type": "deletion-vector-v1", "offset": 4,
                       "length": 10, "compression-codec": "zstd",
                       "properties": {"referenced-data-file": "x"}}]}
    with pytest.raises(puffin.PuffinError, match="uncompressed"):
        puffin.dv_blobs_from_footer(meta)


def test_dv_blob_without_reference_refused():
    meta = {"blobs": [{"type": "deletion-vector-v1", "offset": 4,
                       "length": 10, "properties": {}}]}
    with pytest.raises(puffin.PuffinError, match="referenced-data-file"):
        puffin.dv_blobs_from_footer(meta)


def test_non_dv_blobs_ignored(tmp_path):
    """A puffin file can also carry sketch blobs (theta etc.) — only
    deletion-vector-v1 blobs surface as deletes."""
    p = str(tmp_path / "mixed.puffin")
    dv = puffin.dv_blob([3])
    sketch = b"\x00" * 16
    payload = json.dumps({"blobs": [
        {"type": "apache-datasketches-theta-v1", "offset": 4,
         "length": len(sketch), "properties": {}},
        {"type": "deletion-vector-v1", "offset": 4 + len(sketch),
         "length": len(dv),
         "properties": {"referenced-data-file": "/d/a.parquet"}},
    ]}).encode()
    data = (puffin.MAGIC + sketch + dv + puffin.MAGIC + payload
            + struct.pack("<i", len(payload)) + b"\x00\x00\x00\x00"
            + puffin.MAGIC)
    with open(p, "wb") as f:
        f.write(data)
    blobs = puffin.dv_blobs_from_footer(puffin.read_footer_path(p))
    assert len(blobs) == 1
    assert puffin.read_dv(p, blobs[0]["offset"],
                          blobs[0]["length"]).tolist() == [3]


def test_short_ranged_read_detected(tmp_path):
    p = str(tmp_path / "t.puffin")
    puffin.write_dv_puffin(p, {"/d/a.parquet": [1]})
    blobs = puffin.dv_blobs_from_footer(puffin.read_footer_path(p))
    size = os.path.getsize(p)
    with pytest.raises(puffin.PuffinError, match="short read"):
        puffin.read_dv(p, size - 4, blobs[0]["length"])
