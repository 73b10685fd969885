"""Binary tick-frame encoder + deterministic frame generator.

The reference consumes a fixed-layout little-endian binary tick format
from the AngelOne WebSocket (reference parser/binary.go:47-76). Since
the live feed obviously isn't reproducible, the engine ships an
*encoder* for the same layout: it manufactures deterministic frame
streams (seeded random walk over the reference's own token universe,
config/tokens.json) used by decoder unit tests, the streaming-ingest
replay tests, and the ingest throughput benchmark.

Frame layout (FIXTURES.md B1; offsets match parser/binary.go:47-76):

  off  0: subscription_mode  uint8   (1=LTP 2=QUOTE 3=SNAP_QUOTE 4=DEPTH)
  off  1: exchange_type      uint8
  off  2: token              25s     ASCII, NUL padded
  off 27: sequence_number    int64
  off 35: exchange_timestamp int64   epoch millis
  off 43: last_traded_price  int64   paise (x100)
  -- only when mode >= 2 (parser/binary.go:63-73):
  off 51: last_traded_quantity int64
  off 59: average_traded_price int64
  off 67: volume_trade         int64
  off 75: total_buy_quantity   float64
  off 83: total_sell_quantity  float64
  off 91: open_price_of_the_day  int64
  off 99: high_price_of_the_day  int64
  off107: low_price_of_the_day   int64
  off115: closed_price           int64

All values little-endian. Mode-1 frames are 51 bytes, mode>=2 frames
123 bytes.
"""

from __future__ import annotations

import random
import struct

HEADER_FMT = "<BB25sqqq"  # mode, exchange, token, seq, exch_ts, ltp
TAIL_FMT = "<qqqddqqqq"
HEADER_LEN = struct.calcsize(HEADER_FMT)  # 51
FULL_LEN = HEADER_LEN + struct.calcsize(TAIL_FMT)  # 123

# The reference's own token universe (config/tokens.json:1-33).
TOKEN_UNIVERSE = [
    ("RELIANCE", "2885", 1),
    ("INFY", "1594", 1),
    ("TCS", "11536", 1),
    ("SBIN", "3045", 1),
    ("HDFCBANK", "3787", 1),
    ("NIFTY25JAN23200PE", "43607", 2),
]

EPOCH_2024_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z


def encode_frame(
    mode: int,
    exchange_type: int,
    token: str,
    sequence_number: int,
    exchange_timestamp_ms: int,
    ltp_paise: int,
    ltq: int = 0,
    atp_paise: int = 0,
    volume: int = 0,
    total_buy_qty: float = 0.0,
    total_sell_qty: float = 0.0,
    open_paise: int = 0,
    high_paise: int = 0,
    low_paise: int = 0,
    close_paise: int = 0,
) -> bytes:
    head = struct.pack(
        HEADER_FMT,
        mode,
        exchange_type,
        token.encode("ascii"),
        sequence_number,
        exchange_timestamp_ms,
        ltp_paise,
    )
    if mode < 2:
        return head
    return head + struct.pack(
        TAIL_FMT,
        ltq,
        atp_paise,
        volume,
        total_buy_qty,
        total_sell_qty,
        open_paise,
        high_paise,
        low_paise,
        close_paise,
    )


def generate_frames_and_truth(
    n: int,
    seed: int = 42,
    duplicate_every: int = 0,
    corrupt_every: int = 0,
    start_ms: int = EPOCH_2024_MS,
    seq_start: int = 0,
) -> tuple[list[bytes], list[dict]]:
    """Deterministic frame stream plus its ground truth: per-token price
    random walks, mixed mode-1/mode-3 frames, optional duplicated
    sequence numbers (dedup tests) and truncated frames (corrupt-path
    tests).

    The truth list holds one record per emitted frame (duplicates
    included) with every PRE-ENCODING field value and the frame's final
    byte length — enough for a DuckDB oracle to replicate the decoder's
    mode-conditional and corrupt-frame semantics bit-for-bit. Tail
    fields are None for mode-1 frames because the encoder never puts
    them on the wire."""
    rng = random.Random(seed)
    state = {tok: rng.randint(10_000, 500_000) for _, tok, _ in TOKEN_UNIVERSE}
    frames: list[bytes] = []
    truth: list[dict] = []
    ts = start_ms
    for i in range(n):
        symbol, token, exch = TOKEN_UNIVERSE[i % len(TOKEN_UNIVERSE)]
        ts += rng.randint(1, 500)
        px = max(100, state[token] + rng.randint(-200, 200))
        state[token] = px
        mode = 1 if rng.random() < 0.3 else 3
        rec = dict(
            mode=mode,
            exchange_type=exch,
            token=token,
            # seq_start lets multi-segment fixtures (e.g. one call per
            # day) keep (token, sequence_number) globally unique — the
            # stream dedup key; overlapping ranges would be dropped as
            # retransmits by design
            sequence_number=seq_start + i,
            exchange_timestamp_ms=ts,
            ltp_paise=px,
            ltq=rng.randint(1, 1000),
            atp_paise=px + rng.randint(-50, 50),
            volume=rng.randint(1, 100_000),
            total_buy_qty=float(rng.randint(0, 10_000)),
            total_sell_qty=float(rng.randint(0, 10_000)),
            open_paise=px + rng.randint(-500, 500),
            high_paise=px + rng.randint(0, 600),
            low_paise=px - rng.randint(0, 600),
            close_paise=px + rng.randint(-500, 500),
        )
        frame = encode_frame(
            mode=rec["mode"],
            exchange_type=rec["exchange_type"],
            token=rec["token"],
            sequence_number=rec["sequence_number"],
            exchange_timestamp_ms=rec["exchange_timestamp_ms"],
            ltp_paise=rec["ltp_paise"],
            ltq=rec["ltq"],
            atp_paise=rec["atp_paise"],
            volume=rec["volume"],
            total_buy_qty=rec["total_buy_qty"],
            total_sell_qty=rec["total_sell_qty"],
            open_paise=rec["open_paise"],
            high_paise=rec["high_paise"],
            low_paise=rec["low_paise"],
            close_paise=rec["close_paise"],
        )
        if corrupt_every and i % corrupt_every == corrupt_every - 1:
            frame = frame[: rng.randint(1, len(frame) - 1)]
        if rec["mode"] < 2:
            # not on the wire for LTP frames (parser/binary.go:63-73)
            for k in (
                "ltq", "atp_paise", "volume", "total_buy_qty",
                "total_sell_qty", "open_paise", "high_paise",
                "low_paise", "close_paise",
            ):
                rec[k] = None
        rec["frame_len"] = len(frame)
        frames.append(frame)
        truth.append(rec)
        if duplicate_every and i % duplicate_every == duplicate_every - 1:
            frames.append(frame)
            truth.append(dict(rec))
    return frames, truth


def generate_frames(
    n: int,
    seed: int = 42,
    duplicate_every: int = 0,
    corrupt_every: int = 0,
    start_ms: int = EPOCH_2024_MS,
    seq_start: int = 0,
) -> list[bytes]:
    return generate_frames_and_truth(
        n, seed, duplicate_every, corrupt_every, start_ms, seq_start
    )[0]


# Bump whenever generate_frames_and_truth's OUTPUT changes for fixed
# params: the version feeds truth_sidecar_path's content hash, so a
# semantic change to the generator forces a new sidecar filename — a
# stale sidecar can then never be silently reused as oracle truth.
GENERATOR_VERSION = 1


def truth_sidecar_path(repo_root: str, stem: str, params: dict) -> str:
    """Sidecar filename derived from (GENERATOR_VERSION, params): the
    name IS the cache key, so write-if-missing is sound — any change to
    the generation params or the generator itself lands on a fresh
    path instead of trusting an existing file of unknown provenance."""
    import hashlib
    import json
    import os

    key = hashlib.sha256(
        json.dumps({"_v": GENERATOR_VERSION, **params}, sort_keys=True).encode()
    ).hexdigest()[:12]
    return os.path.join(repo_root, ".oracle_sidecar", f"{stem}_{key}.parquet")


def write_truth_sidecar(path: str, truth: list[dict]) -> str:
    """Persist a truth-record list as a parquet sidecar DuckDB can read
    (oracle input for the decode-path differential). Deterministic
    content; cheap enough to regenerate at import."""
    import os

    import pandas as pd

    os.makedirs(os.path.dirname(path), exist_ok=True)
    df = pd.DataFrame(truth)
    for col in df.columns:
        if col in ("token",):
            continue
        if col in ("total_buy_qty", "total_sell_qty"):
            df[col] = df[col].astype("float64")
        else:
            df[col] = df[col].astype("Int64")
    df.to_parquet(path, index=False)
    return path


def frames_df(spark, frames: list[bytes], rows_per_partition: int = 500):
    """Frames as a DataFrame with a single binary 'frame' column — the
    Spark-native stand-in for the WebSocket byte stream (SURVEY §2.1 O2).

    Partition count is sized to the data (~rows_per_partition each,
    capped at the default parallelism): a local relation otherwise
    fans out to one task per core, and for a few thousand frames the
    32-way Python-worker task overhead dwarfs the decode itself."""
    df = spark.createDataFrame([(f,) for f in frames], "frame binary")
    target = max(1, min(
        spark.sparkContext.defaultParallelism,
        (len(frames) + rows_per_partition - 1) // rows_per_partition,
    ))
    return df.coalesce(target)


def write_frames_parquet(spark, frames: list[bytes], path: str, n_files: int = 4):
    """Persist a frame stream as parquet for file-based streaming replay
    (each micro-batch picks up whole files — deterministic, unlike a
    socket)."""
    frames_df(spark, frames).repartition(n_files).write.mode("overwrite").parquet(path)


def write_frames_parquet_ordered(frames: list[bytes], path: str, n_files: int = 4):
    """Time-ordered replay fixture: file i holds the i-th contiguous
    chunk of ``frames``, written sequentially so the file stream source
    (oldest-modified first) replays event time monotonically.

    ``write_frames_parquet``'s repartition round-robins rows across
    files, which interleaves the whole time span into every micro-batch
    — fine for single-interval fixtures, but a multi-day replay then
    advances the watermark to the end on epoch 0 and every subsequent
    earlier-day row is dropped as late. Long-haul soak tests need this
    ordered variant (the contract a real catch-up replay satisfies:
    bounded disorder within the watermark delay)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    import time

    os.makedirs(path, exist_ok=True)
    per = (len(frames) + n_files - 1) // n_files
    base = time.time() - n_files  # strictly past, 1 s apart
    for i in range(n_files):
        chunk = frames[i * per : (i + 1) * per]
        fp = os.path.join(path, f"file{i:03d}.parquet")
        pq.write_table(
            pa.table({"frame": pa.array(chunk, type=pa.binary())}), fp
        )
        # FileStreamSource orders ONLY by modification time, and
        # back-to-back writes tie at ms granularity — ties replay in
        # arbitrary order, and a next-day file picked before the prior
        # day's last files pushes the watermark ~24 h ahead, late-
        # dropping them (observed: exactly one repro in ~3 soak runs).
        # Explicit 1 s-spaced mtimes make the replay order total.
        os.utime(fp, (base + i, base + i))
