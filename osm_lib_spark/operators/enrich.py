"""Entity enrichment: ID-keyed tag upsert from a side table (SURVEY J7).

Reference analog: SpeedSetter (main/SpeedSetter.java:28-31) reads a CSV
of (osmWayId, speed) and rewrites each way's ``maxspeed`` tag in place.
The Spark expression: broadcast/hash join ways to the enrichment table,
rewrite the tag array with add_or_replace_tag (first case-insensitive
key match replaced in position, else appended — OSMEntity.java:91-102),
and keep untouched ways as-is. On a cluster this is the MERGE INTO
update arm; here it returns the updated DataFrame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm_lib_spark.functions.tags import add_or_replace_tag


def enrich_tags(
    entities: DataFrame, updates: DataFrame, key_tag: str, id_col: str = "id",
    update_id_col: str = "id", update_value_col: str = "value",
) -> DataFrame:
    """Upsert tag ``key_tag`` = updates.value on matching entity ids.

    ``updates`` is small (broadcast); non-matching entities pass through
    unchanged. Tag rewrite preserves order and replaces only the first
    case-insensitive match, appending otherwise.
    """
    upd = updates.select(
        F.col(update_id_col).alias("_uid"),
        F.col(update_value_col).cast("string").alias("_uval"),
    )
    joined = entities.join(
        F.broadcast(upd), entities[id_col] == upd._uid, "left"
    )
    new_tags = F.when(F.col("_uval").isNull(), F.col("tags")).otherwise(
        add_or_replace_tag(F.col("tags"), key_tag, F.col("_uval"))
    )
    return joined.withColumn("tags", new_tags).drop("_uid", "_uval")
