"""Last-writer-wins resolution over (lsn, offset) per key.

The reference's precedent is Kafka (partition, offset) addressing
(crates/libs/lib-etl/src/config.rs:10-17) — the winner per ``doc_id`` is
the event with the greatest ``(lsn, offset)``.

``lww_agg`` is a ``max_by(payload_struct, order_struct)`` aggregation.
Spark plans a partial (map-side) aggregate before the shuffle, so a hot
key is pre-combined on every input partition — each mapper ships ONE
candidate row per key it saw. Built from SQL strings, so planning costs
a few py4j calls however wide the payload is. The CDC commit, the lake
table's merge-on-read and its compaction all resolve through it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_rs_spark.sql_text import ident


def lww_agg(
    df: DataFrame,
    key: str = "doc_id",
    order: tuple[str, ...] = ("lsn", "offset"),
) -> DataFrame:
    payload = [c for c in df.columns if c != key]
    values = ", ".join(map(ident, payload))
    keys = ", ".join(map(ident, order))
    winner = F.expr(f"max_by(struct({values}), struct({keys})) AS _w")
    out = df.groupBy(ident(key)).agg(winner)
    return out.selectExpr(ident(key), *[f"_w.{ident(c)} AS {ident(c)}" for c in payload])
