"""Decoder unit tests per SURVEY §5.2(2): hand-built binary frames
(mode 1 vs mode>=2, NUL-padded tokens, truncated frames per D5) with
exact expected values, and every field of a multi-batch generated
stream checked against the generator's truth."""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from angelone_clickhouse_spark.sources.decoder import (
    _decode_batch,
    decode_frames,
    wire_to_ticks,
)
from angelone_clickhouse_spark.sources.frames import (
    FULL_LEN,
    HEADER_LEN,
    encode_frame,
    frames_df,
    generate_frames,
    generate_frames_and_truth,
)


def _one(spark, frame):
    return decode_frames(frames_df(spark, [frame])).collect()[0]


def test_mode1_frame(spark):
    f = encode_frame(1, 1, "2885", 7, 1_704_067_200_123, 250_075)
    assert len(f) == HEADER_LEN
    r = _one(spark, f)
    assert r.subscription_mode == 1
    assert r.exchange_type == 1
    assert r.token == "2885"  # NUL padding trimmed (parser/binary.go:55-57)
    assert r.sequence_number == 7
    assert r.exchange_timestamp == 1_704_067_200_123
    assert r.last_traded_price == 250_075
    assert r.last_traded_quantity is None  # mode-1: no tail fields
    assert r.open_price_of_the_day is None
    assert not r.is_corrupt


def test_mode3_frame_full_tail(spark):
    f = encode_frame(
        3, 2, "NIFTY25JAN23200PE", 99, 1_704_067_260_000, 123_456,
        ltq=10, atp_paise=123_400, volume=5_000,
        total_buy_qty=1234.0, total_sell_qty=567.0,
        open_paise=120_000, high_paise=125_000, low_paise=-150, close_paise=121_000,
    )
    assert len(f) == FULL_LEN
    r = _one(spark, f)
    assert r.token == "NIFTY25JAN23200PE"
    assert r.last_traded_quantity == 10
    assert r.average_traded_price == 123_400
    assert r.volume_trade == 5_000
    assert r.open_price_of_the_day == 120_000
    assert r.high_price_of_the_day == 125_000
    assert r.low_price_of_the_day == -150  # negative LE two's-complement
    assert r.closed_price == 121_000
    assert r.total_buy_quantity == 1234.0
    assert r.total_sell_quantity == 567.0
    assert not r.is_corrupt


def test_truncated_frame_yields_nulls_not_zeros(spark):
    """Reference zero-fills short frames silently (D5); engine nulls +
    flags them."""
    f = encode_frame(3, 1, "2885", 1, 1_704_067_200_000, 100, open_paise=5)[:60]
    r = _one(spark, f)
    assert r.is_corrupt
    assert r.open_price_of_the_day is None  # not 0
    # header still parseable
    assert r.token == "2885"


def test_garbage_short_frame(spark):
    r = _one(spark, b"\x01\x02\x03")
    assert r.is_corrupt
    assert r.token is None
    assert r.sequence_number is None


# truth-record key -> decoded column, in frame-layout order
_HEADER_TRUTH = [
    ("mode", "subscription_mode"),
    ("exchange_type", "exchange_type"),
    ("token", "token"),
    ("sequence_number", "sequence_number"),
    ("exchange_timestamp_ms", "exchange_timestamp"),
    ("ltp_paise", "last_traded_price"),
]
_TAIL_TRUTH = [
    ("ltq", "last_traded_quantity"),
    ("atp_paise", "average_traded_price"),
    ("volume", "volume_trade"),
    ("total_buy_qty", "total_buy_quantity"),
    ("total_sell_qty", "total_sell_quantity"),
    ("open_paise", "open_price_of_the_day"),
    ("high_paise", "high_price_of_the_day"),
    ("low_paise", "low_price_of_the_day"),
    ("close_paise", "closed_price"),
]


def _expected(rec: dict) -> dict:
    """The decoded row a truth record implies: its frame length decides
    the corrupt flag and which fields are NULL."""
    has_header = rec["frame_len"] >= HEADER_LEN
    has_tail = has_header and rec["mode"] >= 2 and rec["frame_len"] >= FULL_LEN
    out = {col: rec[key] if has_header else None for key, col in _HEADER_TRUTH}
    out.update({col: rec[key] if has_tail else None for key, col in _TAIL_TRUTH})
    out["is_corrupt"] = not has_header or (rec["mode"] >= 2 and not has_tail)
    return out


def test_every_field_matches_generator_truth(spark):
    """One partition of 12k+ frames, so the decoder sees several Arrow
    batches; retransmits and truncations at every length come from the
    generator, and the edge frames sit in the last batch."""
    frames, truth = generate_frames_and_truth(
        12_000, seed=11, duplicate_every=40, corrupt_every=17
    )
    expected = [_expected(rec) for rec in truth]
    assert sum(e["is_corrupt"] for e in expected) > 500

    nulls = {col: None for _, col in _HEADER_TRUTH + _TAIL_TRUTH}

    def header_only(token: bytes, decoded: str) -> tuple[bytes, dict]:
        f = bytearray(encode_frame(1, 1, "X", 3, 1_704_067_200_000, 42))
        f[2:27] = token.ljust(25, b"\x00")
        return bytes(f), dict(
            nulls, subscription_mode=1, exchange_type=1, token=decoded,
            sequence_number=3, exchange_timestamp=1_704_067_200_000,
            last_traded_price=42, is_corrupt=False,
        )

    edges = [
        (None, dict(nulls, is_corrupt=True)),
        (b"", dict(nulls, is_corrupt=True)),
        header_only(b"AB\x00CD", "AB"),  # cut at the first NUL, not the last
        header_only(b"X\xe9Z", "X\ufffdZ"),  # non-ASCII byte -> U+FFFD
    ]
    for frame, want in edges:
        frames.append(frame)
        expected.append(want)

    batch = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    assert len(frames) > batch
    df = frames_df(spark, frames, rows_per_partition=len(frames))
    assert df.rdd.getNumPartitions() == 1
    got = [r.asDict() for r in decode_frames(df).collect()]
    assert len(got) == len(expected)
    for i, (g, e) in enumerate(zip(got, expected)):
        assert g == e, (i, g, e)


def test_null_slot_with_bytes_and_sliced_array():
    """Arrow lets a NULL slot span bytes and an array start at an
    offset into its buffers: the NULL frame still decodes to NULLs, and
    a slice decodes exactly as its rows do in the whole array."""
    f = encode_frame(3, 2, "2885", 9, 1_704_067_200_000, 100, open_paise=7)
    g = encode_frame(3, 2, "1594", 9, 1_704_067_200_000, 100, open_paise=8)
    validity = pa.py_buffer(np.packbits([1, 0, 1], bitorder="little"))
    offsets = pa.py_buffer(np.array([0, 1, 1 + FULL_LEN, 1 + 2 * FULL_LEN], np.int32))
    arr = pa.Array.from_buffers(
        pa.binary(), 3, [validity, offsets, pa.py_buffer(b"\x01" + f + g)]
    )
    whole = _decode_batch(arr).to_pylist()
    assert whole[1]["is_corrupt"] and whole[1]["token"] is None
    assert whole[1]["open_price_of_the_day"] is None
    assert whole[2]["token"] == "1594" and whole[2]["open_price_of_the_day"] == 8
    assert _decode_batch(arr.slice(1)).to_pylist() == whole[1:]


def test_wire_to_ticks_scaling(spark):
    """paise -> rupees /100 (parser/binary.go:27-45), volume -> double."""
    f = encode_frame(
        2, 1, "2885", 5, 1_704_067_200_500, 250_075,
        volume=42, open_paise=100, high_paise=200, low_paise=50, close_paise=150,
    )
    t = wire_to_ticks(decode_frames(frames_df(spark, [f]))).collect()[0]
    assert t.last_traded_price == 2500.75
    assert t.open_price == 1.0
    assert t.volume == 42.0
    assert t.ts.isoformat().startswith("2024-01-01T00:00:00.500")
    assert t.sequence_number == 5


def test_corrupt_frames_filtered_from_ticks(spark):
    frames = generate_frames(200, seed=1, corrupt_every=10)
    decoded = decode_frames(frames_df(spark, frames))
    n_corrupt = decoded.filter("is_corrupt").count()
    assert n_corrupt == 20
    assert wire_to_ticks(decoded).count() == 180
