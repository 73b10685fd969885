"""Streaming count-min sketch: per-epoch cell partials merged into a
running frequency sketch.

The batch op (``functions/scalar.token_freq_cms``) builds the D x W
counter table in one pass; THIS is the shape a production pipeline
actually runs it in — each micro-batch contributes a tiny partial
cell table, partials merge by cell-wise SUM (counter addition
commutes, so epoch order cannot matter), and the cumulative sketch is
queryable at any point with no rescan of history. Mergeability is the
entire reason CMS (and the HLL/theta/KLL family) exist at 100 TB:
shard sketches, trigger sketches, and day sketches all combine with
the same cheap sum.

The driver-visible query replays the documents table in
``N_STREAM_EPOCHS`` file epochs (the splitter shared with
stream_dedup_docs / stream_novelty_docs), maintains the epoch-
committed partial store, then answers the SAME probe as the batch op
— exact top-CMS_TOP tokens vs sketch estimate. Because cell sums
commute, the streamed sketch is BIT-IDENTICAL to the batch one, so
the batch op's DuckDB oracle checks this path verbatim: a green row
certifies the merge law end-to-end (stream == batch is the test, the
oracle makes it a driver-checked fact).

Each epoch's partial is one flat sink of the shared committer
(epoch_commit.py, which states the retry contract); the partial is a
pure function of the batch, so a retried epoch recomputes
bit-identically. No keyed layout is needed: the store is D x W-bounded
per epoch (KB-scale), and the merge read is one scan of tiny files —
compaction (streaming/compaction.py) applies if epoch count ever grows
the file count, not the data size.

Scale notes (100 TB): per epoch ONE groupBy(d, bucket) with map-side
partials over the trigger's tokens — constant output size; the merge
is a groupBy over n_epochs x D x W tiny rows. The exact-top-k probe
side is the batch op's own plan and exists to MEASURE the sketch; a
deployment queries the cell table directly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from angelone_clickhouse_spark.functions.scalar import (
    cms_cells,
    cms_probe_topk,
)
from angelone_clickhouse_spark.streaming.epoch_commit import replay_gate

CELLS_SCHEMA = "d int, bucket long, n long"


def cms_epoch(batch: DataFrame, cells_dir: str) -> tuple[DataFrame]:
    """The sketch's epoch function: the batch's cell partial."""
    return (
        cms_cells(batch.select(F.explode(F.split("text", " ")).alias("token"))),
    )


def merged_cells(spark: SparkSession, cells_dir: str) -> DataFrame:
    """Cumulative sketch = cell-wise sum of every committed epoch
    partial (counter addition commutes — epoch order is immaterial,
    which is the merge law the oracle certifies)."""
    return (
        spark.read.schema(CELLS_SCHEMA)
        .parquet(cells_dir)
        .groupBy("d", "bucket")
        .agg(F.sum("n").alias("n"))
    )


def stream_token_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible face: stream the documents replay through the
    per-epoch sketch writer, merge the partials, and answer the batch
    op's probe — the output (and its DuckDB oracle) are the batch
    op's, verbatim, because cell sums commute."""
    from angelone_clickhouse_spark.sources.tables import load_table

    (cells_dir,) = replay_gate(
        spark, sf_dir, "documents", "stream_cms", cms_epoch, sinks=("cells",)
    )
    toks = load_table(spark, sf_dir, "documents").select(
        F.explode(F.split("text", " ")).alias("token")
    )
    return cms_probe_topk(toks, merged_cells(spark, cells_dir))


QUERIES = {"stream_token_cms": stream_token_cms}


def _oracle() -> dict[str, str]:
    from angelone_clickhouse_spark.functions import scalar as _s

    # bit-identical to the batch sketch by the merge law, so the batch
    # oracle checks the streamed path verbatim
    return {"stream_token_cms": _s.ORACLES["token_freq_cms"]}


ORACLES = _oracle()
