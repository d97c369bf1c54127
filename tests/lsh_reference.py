"""Unsalted reference pair generator for the LSH bucket tests.

`pairs_from_buckets` is the one-shuffle, one-task-per-bucket shape the
salted generator in `dedup_spark.operators.lsh` replaced: it collects every
bucket's full member list in one task, so a hot bucket is unbounded. It is
kept only as an equivalence reference for tests/test_lsh_salting.py; the
package never calls it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dedup_spark.operators.lsh import PAIR_CAP_ALL, _KEYS, _all_pairs, _star_pairs


def pairs_from_buckets(
    exploded: DataFrame, channel: str, pair_cap_all: int | None = PAIR_CAP_ALL
) -> DataFrame:
    """(band_key, id) -> distinct candidate pairs (id_a < id_b).

    One shuffle: groupBy(band_key) with sorted member lists; pairs
    are generated inline with `transform`/`flatten` (whole-stage codegen), then
    a distinct over (id_a, id_b) dedups across buckets.

    ``pair_cap_all=None`` forces exhaustive all-pairs generation regardless of
    bucket size (exact-enumeration mode for oracle-matched queries); the
    default caps quadratic blowup via the star topology. NOTE: either way one
    task collects the full bucket member list — use
    ``salted_pairs_from_buckets`` when buckets can be arbitrarily hot.
    """
    buckets = exploded.groupBy(*_KEYS).agg(
        F.sort_array(F.collect_list("id")).alias("members")
    )
    members = F.col("members")
    n = F.size(members)
    buckets = buckets.filter(n >= 2)
    cap = F.lit(2**31 - 1) if pair_cap_all is None else F.lit(pair_cap_all)
    pairs = buckets.select(
        F.explode(
            F.when(n <= cap, _all_pairs(members)).otherwise(_star_pairs(members))
        ).alias("p")
    ).select("p.id_a", "p.id_b")
    return pairs.distinct().withColumn("channel", F.lit(channel))
