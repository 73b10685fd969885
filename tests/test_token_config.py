from __future__ import annotations

from angelone_clickhouse_spark.sources.token_config import (
    _quote,
    decode_ticks_enriched,
    enriched_token_config,
    load_token_config,
)


def test_config_loads_with_schema(spark):
    cfg = load_token_config(spark)
    rows = {r.token: (r.symbol, r.exchange) for r in cfg.collect()}
    assert rows["2885"] == ("RELIANCE", "nse_cm")
    assert len(rows) == 7


def test_quote_round_trips_escape_characters(spark):
    for s in ["a\\b", "tail\\", "\\'", "it's", "''", "x\ny", "\\n", "plain"]:
        assert spark.sql(f"SELECT {_quote(s)} AS v").first().v == s, s


def test_unknown_exchange_dropped(spark):
    enriched = enriched_token_config(spark)
    tokens = {r.token for r in enriched.collect()}
    assert "99999" not in tokens  # unlisted_ex has no exchange-type code
    assert "2885" in tokens


def test_decode_enrichment_covers_universe(spark, sf_dir):
    out = decode_ticks_enriched(spark, sf_dir).collect()
    symbols = {r.symbol for r in out}
    assert symbols == {"RELIANCE", "INFY", "TCS", "SBIN", "HDFCBANK",
                       "NIFTY25JAN23200PE"}
    assert all(r.n_ticks > 0 for r in out)


def test_observability_counters(spark):
    from angelone_clickhouse_spark.sources.decoder import decode_frames
    from angelone_clickhouse_spark.sources.frames import frames_df, generate_frames
    from angelone_clickhouse_spark.streaming.observability import observe_decoded

    frames = generate_frames(500, seed=3, corrupt_every=50)
    decoded = decode_frames(frames_df(spark, frames))
    df, obs = observe_decoded(decoded)
    df.write.format("noop").mode("overwrite").save()
    got = obs.get
    assert got["frames_total"] == 500
    assert got["frames_corrupt"] == 10
    assert got["tokens_seen"] >= 5
