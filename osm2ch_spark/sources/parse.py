"""Parse stage: source table → ways / nodes / restrictions DataFrames.

Reference: the three pbf scan passes of ``/root/reference/osm_loader.go``
(ways :27-73, nodes :80-103, restrictions :110-202) become one parse
of the ``content`` column (``from_json``, vectorized JVM-side — no Python)
plus three filtered projections.  The parse runs once: ``build_expanded``
checkpoints the ``slim_records`` projection (one ``materialize_df``
barrier) and all three scans read that table — the Spark analogue of the
reference's three file ``Seek``s.

Explicit StructType everywhere — schema inference would break the
deterministic ID / sha256 parity contract (SURVEY.md §1.2).

Every record carries the order key ``(repo, path, seq)`` (seq = line
number within the file, FIXTURES.md §1) which drives the reference's
scan-order semantics: sequential edge IDs (osm_loader.go:228), first-wins
node dedup (osm_loader.go:91-98), first-wins restriction dedup
(osm_loader.go:195-197).  The restriction dedup happens here; the node
dedup happens in the W1 node window (``pipeline.split_ways_to_edges``),
so ``scan_nodes_slim`` hands over every node record with its order key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

# One generic record schema covers node / way / relation lines.
RECORD_SCHEMA = StructType(
    [
        StructField("type", StringType()),
        StructField("id", LongType()),
        StructField("lon", DoubleType()),
        StructField("lat", DoubleType()),
        StructField("nodes", ArrayType(LongType())),
        StructField("tags", MapType(StringType(), StringType())),
        StructField(
            "members",
            ArrayType(
                StructType(
                    [
                        StructField("type", StringType()),
                        StructField("ref", LongType()),
                        StructField("role", StringType()),
                    ]
                )
            ),
        ),
    ]
)

# cmd/osm2ch/main.go:17 — the default tag whitelist; main.go:31 pins the
# entity to "highway".
DEFAULT_ENTITY = "highway"
DEFAULT_TAGS = (
    "motorway,primary,primary_link,road,secondary,secondary_link,residential,"
    "tertiary,tertiary_link,unclassified,trunk,trunk_link,motorway_link"
).split(",")


def parse_records(source: DataFrame) -> DataFrame:
    """Source rows → one row per OSM record with (repo, path, seq, rec)."""
    lines = source.select(
        "repo",
        "path",
        F.posexplode(F.split(F.col("content"), "\n")).alias("seq", "line"),
    )
    return lines.select(
        "repo",
        "path",
        "seq",
        F.from_json(F.col("line"), RECORD_SCHEMA).alias("rec"),
    )


def oneway_col(tags: Column) -> Column:
    """P1 — osm_loader.go:50-55: oneway iff tags["oneway"] ∈ {"yes","1"}."""
    return F.coalesce(tags.getItem("oneway").isin("yes", "1"), F.lit(False))


def slim_records(records: DataFrame) -> DataFrame:
    """Parsed records projected down to EXACTLY what the pipeline reads —
    the tags MAP (the widest, slowest column) is reduced to three scalars
    (the ``DEFAULT_ENTITY`` tag, oneway, restriction) before any exchange.

    ``build_expanded`` repartitions this projection and checkpoints it
    (its slim ``materialize_df`` barrier), then feeds all three scans
    from that table: the JSON parse (the reference's three file
    ``Seek``s, osm_loader.go:27/80/110) runs ONCE and its output lives in
    DISK_ONLY blocks.  Running from_json once per scan (3×) and
    persisting downstream tables made concurrent AQE stage jobs race on
    cache-block locks.
    """
    return records.select(
        "repo",
        "path",
        "seq",
        F.col("rec.type").alias("rec_type"),
        F.col("rec.id").alias("rec_id"),
        F.col("rec.lon").alias("lon"),
        F.col("rec.lat").alias("lat"),
        F.col("rec.nodes").alias("nodes"),
        F.col("rec.tags").getItem(DEFAULT_ENTITY).alias("entity_tag"),
        oneway_col(F.col("rec.tags")).alias("oneway"),
        F.col("rec.tags").getItem("restriction").alias("restriction"),
        F.col("rec.members").alias("members"),
    )


def scan_ways_slim(slim: DataFrame, tag_whitelist: list[str] | None = None) -> DataFrame:
    """S1 + F1 + F2 + P1 — osm_loader.go:27-73, over ``slim_records``
    output.  Output: (way_id, oneway, nodes, repo, path, seq)."""
    tag_whitelist = tag_whitelist if tag_whitelist is not None else DEFAULT_TAGS
    w = slim.filter(F.col("rec_type") == "way")
    # F1 filter_entity_tag (osm_loader.go:42-46)
    w = w.filter(F.col("entity_tag").isNotNull())
    # F2 filter_tag_whitelist (osm_configuration.go:10-17)
    w = w.filter(F.col("entity_tag").isin(tag_whitelist))
    return w.select(
        F.col("rec_id").alias("way_id"), "oneway", "nodes", "repo", "path", "seq"
    )


def scan_nodes_slim(slim: DataFrame) -> DataFrame:
    """S2 — osm_loader.go:80-103, over ``slim_records`` output: every node
    record, duplicates included, with its scan-order key.  Output:
    (node_id, lon, lat, scan_key = struct(repo, path, seq)).

    The membership probe (osm_loader.go:91) and the first-wins dedup of
    duplicate ids (osm_loader.go:91-98) run in the W1 node window
    (``pipeline.split_ways_to_edges``), which shares one node_id exchange
    with the use counts: the first record in scan_key order wins."""
    return slim.filter(F.col("rec_type") == "node").select(
        F.col("rec_id").alias("node_id"), "lon", "lat", F.struct("repo", "path", "seq").alias("scan_key")
    )


def scan_restrictions_slim(slim: DataFrame) -> DataFrame:
    """S3 + F3 + P2 + P3 — osm_loader.go:110-202, over ``slim_records``
    output.

    Pivot the 3 members by role with LAST-member-wins per role (the Go
    switch over members[0..2] overwrites earlier assignments,
    osm_loader.go:137-183), default component (-1, ""); then first-wins
    dedup per (rtype, from, to) in scan order (osm_loader.go:195-197).

    Output: (rtype, from_id, from_type, to_id, to_type, via_id, via_type).
    """
    r = slim.filter(
        (F.col("rec_type") == "relation") & F.col("restriction").isNotNull()
    )
    # F3 — exactly 3 members (osm_loader.go:128-131)
    r = r.filter(F.size("members") == 3)

    def role_slot(role: str, out: str):
        # last member with this role wins: a per-row array lookup, no
        # explode and no shuffle
        return F.try_element_at(
            F.filter("members", lambda m: m["role"] == role), F.lit(-1)
        ).alias(out)

    piv = r.select(
        F.col("restriction").alias("rtype"),
        "repo",
        "path",
        "seq",
        role_slot("from", "from_c"),
        role_slot("to", "to_c"),
        role_slot("via", "via_c"),
    )
    piv = piv.select(
        "rtype",
        "repo",
        "path",
        "seq",
        F.coalesce(F.col("from_c.ref"), F.lit(-1)).alias("from_id"),
        F.coalesce(F.col("from_c.type"), F.lit("")).alias("from_type"),
        F.coalesce(F.col("to_c.ref"), F.lit(-1)).alias("to_id"),
        F.coalesce(F.col("to_c.type"), F.lit("")).alias("to_type"),
        F.coalesce(F.col("via_c.ref"), F.lit(-1)).alias("via_id"),
        F.coalesce(F.col("via_c.type"), F.lit("")).alias("via_type"),
    )
    # P3 — first (from,to) wins per rtype in scan order
    return (
        piv.groupBy("rtype", "from_id", "from_type", "to_id", "to_type")
        .agg(
            F.min_by(F.struct("via_id", "via_type"), F.struct("repo", "path", "seq")).alias("v")
        )
        .select(
            "rtype",
            "from_id",
            "from_type",
            "to_id",
            "to_type",
            F.col("v.via_id").alias("via_id"),
            F.col("v.via_type").alias("via_type"),
        )
    )
