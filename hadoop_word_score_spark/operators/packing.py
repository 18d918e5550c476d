"""Bin packing for training-sequence assembly (SURVEY §2 L-EXT).

``pack_sequences`` (plans/queries.py) is the concat-and-split packer: zero
padding waste, but documents straddle bin boundaries. ``pack_segments``
reports, per bin, the document segments that straddling produces: the map
an attention-masking dataloader consumes.

Reference parity note: hopper19/hadoop-word-score has no packing surface
(its engine is ComputeWordScore.java); this is part of the mandated
LLM-pipeline extension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pack_segments(
    sized: DataFrame,
    capacity: int,
    stream_col: str = "source",
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
) -> DataFrame:
    """The concat-and-split packer's per-bin document-boundary map:
    ``(stream_col, bin_id, id_col, bin_offset, doc_offset, seg_len)`` —
    one row per contiguous run of one document inside one bin. This is the
    metadata an attention-masking dataloader actually consumes: within a
    packed bin, attention must not cross document boundaries, so the
    loader needs each bin's (doc, start, length) segments, not just each
    doc's first bin (what ``pack_sequences`` reports).

    Semantics match pack_sequences exactly: docs concatenate per stream in
    ``id_col`` order, the stream splits every ``capacity`` tokens, and a
    document straddling a boundary contributes one segment per bin it
    touches (``doc_offset`` says where the segment starts inside the doc,
    ``bin_offset`` where it lands inside the bin). Zero-token docs emit no
    segments.

    Scale shape: one window prefix-sum per stream (the same partitioned
    Exchange pack_sequences pays — no global sort), then a pure JVM
    ``explode(sequence(first_bin, last_bin))`` whose fan-out is
    1 + n_tokens/capacity per doc — proportional to the data already being
    read, never quadratic. Every expression is codegen'd arithmetic; no
    UDF anywhere.
    """
    if capacity <= 0:
        raise ValueError(
            f"pack_segments: capacity must be > 0, got {capacity}"
        )
    from pyspark.sql.window import Window

    w = Window.partitionBy(stream_col).orderBy(id_col)
    cap = F.lit(int(capacity)).cast("long")
    t = (
        sized.filter(F.col(tokens_col) > 0)
        .select(
            stream_col,
            id_col,
            F.col(tokens_col).cast("long").alias("_n"),
        )
        .withColumn("_off", F.sum("_n").over(w) - F.col("_n"))
    )
    # integer DIV, not float divide+cast: offsets are exact longs and must
    # stay exact past 2^53 (a 100 TB token stream overflows double mantissa)
    first_bin = F.expr(f"_off DIV {int(capacity)}")
    last_bin = F.expr(f"(_off + _n - 1) DIV {int(capacity)}")
    seg = t.select(
        stream_col,
        id_col,
        "_n",
        "_off",
        F.explode(F.sequence(first_bin, last_bin)).alias("bin_id"),
    )
    doc_offset = F.greatest(F.lit(0).cast("long"),
                            F.col("bin_id") * cap - F.col("_off"))
    seg_end = F.least(F.col("_n"), (F.col("bin_id") + 1) * cap - F.col("_off"))
    return seg.select(
        stream_col,
        F.col("bin_id").cast("long").alias("bin_id"),
        id_col,
        F.greatest(F.lit(0).cast("long"),
                   F.col("_off") - F.col("bin_id") * cap).alias("bin_offset"),
        doc_offset.alias("doc_offset"),
        (seg_end - doc_offset).alias("seg_len"),
    )
