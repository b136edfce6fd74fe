"""Route stage — MapSinkServer fan-out (Server/server.go:141-160).

Each row's ``sink`` column selects its destination table; rows with an
unknown/null sink are an error in the reference ("routing key not
found", server.go:150-153) → routed to the rejects table here.

Scale shape: the single-pass plan assigns every row a sink (reserved
reject sinks included), and ``Catalog.commit_fanout_split`` writes all
sink partitions in ONE job — no N-pass re-scan of the input, no driver
loop over data."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Reject destinations for the single-pass plan: invalid rows are ROUTED
# (to reserved sink partitions) rather than split into a second plan
# branch, so the whole pipeline is one linear job — the DLQ analog of
# the reference's reject/release outcomes (Server/consumers.go:776-827).
# The fan-out COMMIT (reject-partition move + table swap) lives behind
# the table layer: sources/catalog.Catalog.commit_fanout_split.
REJECT_PARSE_SINK = "__reject_parse__"
REJECT_ROUTE_SINK = "__reject_route__"
REJECT_SINK_PREFIX = "sink=__reject_"


def assign_reject_sinks(
    df: DataFrame, known_sinks: list[str], ok_col: str = "parse_ok"
) -> DataFrame:
    """Rewrite ``sink`` so every row has a destination: parse failures
    and unknown routing keys go to the reserved reject sinks, with a
    ``reject_reason`` (null for routable rows)."""
    bad_parse = ~F.col(ok_col)
    bad_route = F.col("sink").isNull() | ~F.col("sink").isin(known_sinks)
    return df.withColumn(
        "reject_reason",
        F.when(bad_parse, F.lit("invalid_parse")).when(
            bad_route, F.lit("unknown_routing_key")
        ),
    ).withColumn(
        "sink",
        F.when(bad_parse, F.lit(REJECT_PARSE_SINK))
        .when(bad_route, F.lit(REJECT_ROUTE_SINK))
        .otherwise(F.col("sink")),
    )
