"""Order-1 rANS frames: decode-only, pinned by bytes the last encoder wrote.

Builds up to commit f1ef865 wrote rANS int frames in an opt-in entropy
mode; this build reads them and never writes them. Each pin under
``tests/fixtures/rans`` (see its README) must decode bit for bit on the C
loop (``codecs/_rans_c.py``) and on the numpy reference path, directly and
through ``decode_column``. The frame CRC does not cover the header's value
count, so a frame whose ``n`` is wrong must raise, not decode to a
different column. A model region that does not fit the params' lane count
``L``, or is cut short, raises ``FrameError`` too.
"""
from __future__ import annotations

import struct
from contextlib import contextmanager
from pathlib import Path

import numpy as np
import pyarrow as pa
import pytest

from embulk_input_parquet_hadoop_spark.codecs import _rans_c, framing, rans
from embulk_input_parquet_hadoop_spark.codecs.intcodecs import (
    INT_CODECS, INT_DECODERS)
from embulk_input_parquet_hadoop_spark.operators.encode import decode_column

FIXTURES = Path(__file__).parent / "fixtures" / "rans"
# single-frame pins; list_i32.bin is a whole column blob
PINS = sorted(p.stem for p in FIXTURES.glob("*.bin") if p.stem != "list_i32")
# deg frames carry no stream: any n decodes to n copies of ``min``
STREAM_PINS = [p for p in PINS if not p.startswith("deg_")]


@contextmanager
def _numpy_path():
    lib = _rans_c.LIB
    _rans_c.LIB = None
    try:
        yield
    finally:
        _rans_c.LIB = lib


def _both_paths(fn):
    """``fn()`` on the C loop (when it built) and on the numpy path."""
    outs = [fn()] if _rans_c.LIB is not None else []
    with _numpy_path():
        outs.append(fn())
    return outs


def _load(name: str) -> tuple[bytes, np.ndarray]:
    return ((FIXTURES / f"{name}.bin").read_bytes(),
            np.load(FIXTURES / f"{name}.npz")["values"])


def _assert_pin(name: str) -> None:
    blob, expected = _load(name)
    (frame,) = framing.read_frames(blob)
    assert frame.codec == "rans" and frame.n == len(expected)
    for out in _both_paths(
            lambda: rans.rans_decode(frame.payload, frame.params, frame.n)):
        assert out.dtype == np.int64
        np.testing.assert_array_equal(out, expected)
    want = pa.array(expected.astype(frame.dtype))
    for col in _both_paths(lambda: decode_column("int", blob)):
        assert col.equals(want)


def _raises_on_both_paths(fn, match=None) -> None:
    if _rans_c.LIB is not None:
        with pytest.raises(framing.FrameError, match=match):
            fn()
    with _numpy_path(), pytest.raises(framing.FrameError, match=match):
        fn()


def _with_n(blob: bytes, n: int) -> bytes:
    """The frame with its header value count replaced; the CRC covers
    only the payload, so the frame still parses."""
    head = bytearray(blob)
    struct.pack_into("<I", head, 5, n)
    return bytes(head)


def test_registered_in_codec_table():
    assert INT_DECODERS["rans"] is rans.rans_decode
    assert "rans" not in INT_CODECS
    assert framing.CODEC_IDS["rans"] == 8


@pytest.mark.parametrize("n", [2, 3, 63, 64, 65, 127, 128, 129, 2047,
                               2048, 2049, 100_000])
def test_lane_boundary_sizes(n):
    """Sizes straddling the encoder's lane-count breakpoints and the
    uneven-remainder split (first ``rem`` lanes one longer)."""
    _assert_pin(f"sizes_{n}")


@pytest.mark.parametrize("lanes,delta", [
    (127, 0), (128, 0), (128, 1), (128, 127), (129, 0), (129, 1),
    (256, 0), (256, 255), (257, 0),
])
def test_block_boundary_lane_counts_bit_identical(lanes, delta):
    """The C decode loop runs 128 lanes at a time (``BLK = 128``): lane
    counts straddling the block boundary plus ragged remainders (the
    first ``delta`` lanes one value longer)."""
    _assert_pin(f"block_{lanes}_{delta}")


def test_escape_heavy_chunk():
    _assert_pin("escape_heavy")


def test_negative_and_offset_ranges():
    _assert_pin("negative_min")
    _assert_pin("offset_1e9")


@pytest.mark.parametrize("name", ["deg_empty", "deg_single", "deg_const"],
                         ids=["a0", "a1", "a2"])
def test_degenerate_chunks(name):
    blob, _ = _load(name)
    (frame,) = framing.read_frames(blob)
    assert frame.payload == b"" and frame.params["deg"] == 1
    _assert_pin(name)


def test_two_distinct_values_alternating():
    _assert_pin("two_distinct")


def test_small_context_bucket_count():
    blob, _ = _load("buckets_128")
    assert framing.read_frames(blob)[0].params["B"] == 128
    _assert_pin("buckets_128")


def test_c_and_numpy_coders_bit_identical():
    """The dense-plane (<=64 tables) and >64-table encode paths, one lane
    and one-value lanes: both decoders give the pinned values."""
    for name in ("dense", "structured_300", "lanes_1", "tiny_257", "alt_80"):
        _assert_pin(name)


def test_list_column_blob_pinned():
    blob = (FIXTURES / "list_i32.bin").read_bytes()
    want = np.load(FIXTURES / "list_i32.npz")
    assert [f.codec for f in framing.read_frames(blob)] == ["delta", "rans"]
    expected = pa.ListArray.from_arrays(pa.array(want["offsets"]),
                                        pa.array(want["values"]))
    for col in _both_paths(lambda: decode_column("list_i32", blob)):
        assert col.equals(expected)


@pytest.mark.parametrize("delta", [-1, 1, 100])
@pytest.mark.parametrize("name", STREAM_PINS)
def test_wrong_value_count_raises(name, delta):
    """A wrong header ``n`` lays the lanes out differently: some lane
    then stops short of the encoder's start state or runs past its
    words. Both paths raise instead of returning a different column (the
    C loop bounds each read by the lane's word end)."""
    blob, expected = _load(name)
    (frame,) = framing.read_frames(_with_n(blob, len(expected) + delta))
    _raises_on_both_paths(
        lambda: rans.rans_decode(frame.payload, frame.params, frame.n))


def test_wrong_value_count_in_column_blob_raises():
    blob = (FIXTURES / "list_i32.bin").read_bytes()
    _, values_at = framing.read_frame(blob, 0)  # past the offsets frame
    values, _ = framing.read_frame(blob, values_at)
    bad = blob[:values_at] + _with_n(blob[values_at:], values.n + 1)
    _raises_on_both_paths(lambda: decode_column("list_i32", bad))


def test_truncated_frame_raises_not_crashes():
    """A word stream shorter than the lane word counts claim (a cut
    buffer handed straight to rans_decode) must raise before the C loop
    gets its pointers."""
    blob, expected = _load("dense")
    (frame,) = framing.read_frames(blob)
    cut = bytes(frame.payload)[:-8]  # drop two 4-byte stream words
    _raises_on_both_paths(
        lambda: rans.rans_decode(cut, frame.params, len(expected)),
        match="truncated")


@pytest.mark.parametrize("delta", [-1, 1])
def test_wrong_lane_count_raises(delta):
    """The model region holds one final state and word count per lane:
    a params ``L`` one off leaves bytes over or runs out of them. Both
    raise ``FrameError`` (a too-large ``L`` used to raise numpy's
    ``ValueError``)."""
    blob, expected = _load("dense")
    (frame,) = framing.read_frames(blob)
    params = dict(frame.params, L=frame.params["L"] + delta)
    _raises_on_both_paths(
        lambda: rans.rans_decode(frame.payload, params, len(expected)),
        match="model region")


def test_truncated_model_blob_raises():
    """A model blob cut short, with its header length cut to match or
    left as written, raises ``FrameError`` on both paths."""
    blob, expected = _load("dense")
    (frame,) = framing.read_frames(blob)
    payload = bytes(frame.payload)
    mlen, rawlen = struct.unpack_from("<II", payload)
    short = (struct.pack("<II", mlen - 5, rawlen) + payload[8:8 + mlen - 5]
             + payload[8 + mlen:])
    for cut in (short, payload[:8 + mlen - 5], payload[:4]):
        _raises_on_both_paths(
            lambda: rans.rans_decode(cut, frame.params, len(expected)))
