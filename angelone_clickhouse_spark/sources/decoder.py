"""Binary tick-frame decoder — the reference's core operator (SURVEY O6).

Reference behavior (parser/binary.go:47-76): fixed-offset little-endian
decode; 25-byte NUL-trimmed token; tail fields only when
subscription_mode >= 2; decode errors silently yield zero-valued fields
(latent defect D5). Engine semantics (SURVEY §3.4 D5): truncated frames
yield NULL fields plus ``is_corrupt = true`` so the error counter the
reference exposes (market_data_errors_total, main.go:363) is a simple
filter-count, and zero is never conflated with "missing".

:func:`decode_frames` is one ``mapInArrow`` pass over the frame column.
Per Arrow batch, the binary array's offsets and data buffers give each
frame's start; each numeric field is then one numpy gather of
``<i8``/``<f8`` values at its fixed offset from every start, and the
token is decoded in Python once per distinct 25-byte slice. No Python
runs per frame. Decode is narrow and embarrassingly parallel: it scales
with the partitions of its input.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from angelone_clickhouse_spark.sources.frames import FULL_LEN, HEADER_LEN

WIRE_SCHEMA = StructType(
    [
        StructField("subscription_mode", IntegerType()),
        StructField("exchange_type", IntegerType()),
        StructField("token", StringType()),
        StructField("sequence_number", LongType()),
        StructField("exchange_timestamp", LongType()),
        StructField("last_traded_price", LongType()),
        StructField("last_traded_quantity", LongType()),
        StructField("average_traded_price", LongType()),
        StructField("volume_trade", LongType()),
        StructField("total_buy_quantity", DoubleType()),
        StructField("total_sell_quantity", DoubleType()),
        StructField("open_price_of_the_day", LongType()),
        StructField("high_price_of_the_day", LongType()),
        StructField("low_price_of_the_day", LongType()),
        StructField("closed_price", LongType()),
        StructField("is_corrupt", BooleanType()),
    ]
)
_ARROW_SCHEMA = to_arrow_schema(WIRE_SCHEMA)

# (name, offset, numpy dtype) for the fixed-layout fields.
_HEADER_NUM = [
    ("sequence_number", 27, "<i8"),
    ("exchange_timestamp", 35, "<i8"),
    ("last_traded_price", 43, "<i8"),
]
_TAIL_NUM = [
    ("last_traded_quantity", 51, "<i8"),
    ("average_traded_price", 59, "<i8"),
    ("volume_trade", 67, "<i8"),
    ("total_buy_quantity", 75, "<f8"),
    ("total_sell_quantity", 83, "<f8"),
    ("open_price_of_the_day", 91, "<i8"),
    ("high_price_of_the_day", 99, "<i8"),
    ("low_price_of_the_day", 107, "<i8"),
    ("closed_price", 115, "<i8"),
]
_TOKEN_OFF, _TOKEN_LEN = 2, 25


def _frame_bytes(frames: pa.Array) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(data, starts, lens) of a binary array: its frames' bytes
    followed by FULL_LEN zero bytes, so a fixed-width read at any
    frame's start stays in bounds; each frame's start in ``data``; and
    each frame's length (0 for NULL frames)."""
    n = len(frames)
    off_type = np.int64 if pa.types.is_large_binary(frames.type) else np.int32
    _, off_buf, data_buf = frames.buffers()
    offsets = np.frombuffer(off_buf, dtype=off_type, count=frames.offset + n + 1)
    offsets = offsets[frames.offset:].astype(np.int64)
    lens = np.diff(offsets)
    if frames.null_count:
        lens[frames.is_null().to_numpy(zero_copy_only=False)] = 0
    base, end = offsets[0], offsets[-1]
    data = np.zeros(end - base + FULL_LEN, dtype=np.uint8)
    if data_buf is not None:  # absent when every frame is empty or NULL
        data[: end - base] = np.frombuffer(data_buf, dtype=np.uint8, count=end)[base:]
    return data, offsets[:-1] - base, lens


def _read(data: np.ndarray, starts: np.ndarray, off: int, dtype: str) -> np.ndarray:
    """The ``dtype`` value at byte ``off`` of every frame: one gather
    through an unaligned view that starts a value at every byte."""
    dt = np.dtype(dtype)
    view = np.ndarray(
        (len(data) - dt.itemsize + 1,), dtype=dt, buffer=data, strides=(1,)
    )
    return view[starts + off]


def _tokens(data: np.ndarray, starts: np.ndarray, valid: np.ndarray) -> pa.Array:
    """bytes 2-27 cut at the first NUL, ``ascii``/``replace`` decoded
    once per distinct slice."""
    raw = _read(data, starts, _TOKEN_OFF, f"S{_TOKEN_LEN}")
    slices = pa.FixedSizeBinaryArray.from_buffers(
        pa.binary(_TOKEN_LEN), len(raw), [None, pa.py_buffer(raw)]
    ).dictionary_encode()
    text = pa.array(
        [u.split(b"\x00", 1)[0].decode("ascii", "replace")
         for u in slices.dictionary.to_pylist()],
        type=pa.string(),
    )
    return text.take(pa.array(slices.indices.to_numpy(), mask=~valid))


def _decode_batch(frames: pa.Array) -> pa.RecordBatch:
    data, starts, lens = _frame_bytes(frames)
    has_header = lens >= HEADER_LEN
    no_header = ~has_header
    modes = data[starts].astype(np.int32)
    # Mode 4 (DEPTH, models/token.go:18) frames parse as mode>=2: the
    # reference parser never decodes a depth payload (parser/binary.go
    # :63-73 stops at the mode>=2 tail), so neither do we.
    # Tail fields are defined only for mode >= 2 frames that carry them;
    # a mode>=2 frame shorter than FULL_LEN is corrupt (reference would
    # silently zero-fill, parser/binary.go:52-75 — we null instead).
    # Bytes read past a frame's end belong to the next frame; these
    # masks null every such read.
    tail_mode = has_header & (modes >= 2)
    has_tail = lens >= FULL_LEN
    no_tail = ~(tail_mode & has_tail)
    cols = {
        "subscription_mode": pa.array(modes, mask=no_header),
        "exchange_type": pa.array(data[starts + 1].astype(np.int32), mask=no_header),
        "token": _tokens(data, starts, has_header),
    }
    for name, off, dt in _HEADER_NUM:
        cols[name] = pa.array(_read(data, starts, off, dt), mask=no_header)
    for name, off, dt in _TAIL_NUM:
        cols[name] = pa.array(_read(data, starts, off, dt), mask=no_tail)
    # corrupt = too short for its declared mode (or no header at all)
    cols["is_corrupt"] = pa.array(no_header | (tail_mode & ~has_tail))
    return pa.RecordBatch.from_arrays(
        [cols[f.name] for f in _ARROW_SCHEMA], schema=_ARROW_SCHEMA
    )


def _decode_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    for batch in batches:
        yield _decode_batch(batch.column(0))


def decode_frames(df: DataFrame, frame_col: str = "frame") -> DataFrame:
    """Decode a binary frame column into the full wire schema (one
    output column per wire field + is_corrupt)."""
    return df.select(F.col(frame_col)).mapInArrow(_decode_batches, WIRE_SCHEMA)


def wire_to_ticks(decoded: DataFrame, with_ingest_ts: bool = False) -> DataFrame:
    """Wire record -> storage tick row (reference main.go:314-322 +
    :137-146, db/clickhouse.go:17-25): paise -> rupees (/100, reference
    parser/binary.go:27-45), volume cast to double, event-time kept from
    the frame (deliberate deviation D1 — the reference stamps
    time.Now() and discards the exchange timestamp)."""
    paise = lambda c: (F.col(c) / F.lit(100.0))
    out = decoded.filter(~F.col("is_corrupt")).select(
        F.col("token"),
        F.timestamp_millis(F.col("exchange_timestamp")).alias("ts"),
        F.col("sequence_number"),
        paise("last_traded_price").alias("last_traded_price"),
        paise("open_price_of_the_day").alias("open_price"),
        paise("high_price_of_the_day").alias("high_price"),
        paise("low_price_of_the_day").alias("low_price"),
        paise("closed_price").alias("close_price"),
        F.col("volume_trade").cast("double").alias("volume"),
    )
    if with_ingest_ts:
        out = out.withColumn("ingest_ts", F.current_timestamp())
    return out
