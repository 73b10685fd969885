"""Property-based decoder tests (hypothesis): encode -> decode is the
identity over the full field domain, and truncation is always
flagged. Frames batched per test run so one
Spark job covers every generated example."""

from __future__ import annotations

import string

from hypothesis import given, settings
from hypothesis import strategies as st

from angelone_clickhouse_spark.sources.decoder import decode_frames
from angelone_clickhouse_spark.sources.frames import (
    FULL_LEN,
    HEADER_LEN,
    encode_frame,
    frames_df,
)

I64 = st.integers(min_value=-(2**63), max_value=2**63 - 1)
U63 = st.integers(min_value=0, max_value=2**63 - 1)
TOKEN = st.text(alphabet=string.ascii_uppercase + string.digits, min_size=1, max_size=25)
F64 = st.floats(allow_nan=False, allow_infinity=False, width=64)

frame_params = st.fixed_dictionaries(
    {
        "mode": st.integers(min_value=1, max_value=4),
        "exchange_type": st.integers(min_value=1, max_value=13),
        "token": TOKEN,
        "sequence_number": U63,
        "exchange_timestamp_ms": U63,
        "ltp_paise": I64,
        "ltq": I64,
        "atp_paise": I64,
        "volume": I64,
        "total_buy_qty": F64,
        "total_sell_qty": F64,
        "open_paise": I64,
        "high_paise": I64,
        "low_paise": I64,
        "close_paise": I64,
    }
)


@settings(max_examples=30, deadline=None)
@given(st.lists(frame_params, min_size=1, max_size=10))
def test_encode_decode_roundtrip(spark, params_list):
    frames = [encode_frame(**p) for p in params_list]
    rows = decode_frames(frames_df(spark, frames)).collect()
    assert len(rows) == len(params_list)
    for p, r in zip(params_list, rows):
        assert not r.is_corrupt
        assert r.subscription_mode == p["mode"]
        assert r.exchange_type == p["exchange_type"]
        assert r.token == p["token"]
        assert r.sequence_number == p["sequence_number"]
        assert r.exchange_timestamp == p["exchange_timestamp_ms"]
        assert r.last_traded_price == p["ltp_paise"]
        if p["mode"] >= 2:
            assert r.last_traded_quantity == p["ltq"]
            assert r.volume_trade == p["volume"]
            assert r.open_price_of_the_day == p["open_paise"]
            assert r.closed_price == p["close_paise"]
            assert r.total_buy_quantity == p["total_buy_qty"]
            assert r.total_sell_quantity == p["total_sell_qty"]
        else:
            assert r.last_traded_quantity is None
            assert r.open_price_of_the_day is None


@settings(max_examples=20, deadline=None)
@given(
    params=frame_params,
    cut=st.integers(min_value=1, max_value=FULL_LEN - 1),
)
def test_truncation_always_flagged(spark, params, cut):
    frame = encode_frame(**params)
    truncated = frame[: min(cut, len(frame) - 1)]
    r = decode_frames(frames_df(spark, [truncated])).collect()[0]
    if len(truncated) < HEADER_LEN:
        assert r.is_corrupt
    elif params["mode"] >= 2 and len(truncated) < FULL_LEN:
        assert r.is_corrupt
    else:
        # mode-1 frame cut after the header keeps its meaning
        assert not r.is_corrupt
