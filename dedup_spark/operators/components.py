"""Connected components via hash-min label propagation (N8 in SURVEY.md §2.7).

DataFrame-native iterative min-label propagation (cf. Rastogi et al.,
"Finding connected components in map-reduce in logarithmic rounds", ICDE 2013
— see PAPERS.md): every node repeatedly adopts the minimum label in its
closed neighborhood, then dereferences its own label's label (pointer
doubling / path compression), until fixpoint. The neighbor-min step alone
converges in O(diameter) rounds — fine for the near-clique graphs LSH
buckets produce (star/all-pair edges, diameter <= 2 per bucket), but a
CHAIN of near-dups across overlapping buckets (page1 ~ page2 ~ ... ~ pageK,
drifting boilerplate in a crawl) has diameter K and would exhaust any fixed
iteration cap, silently mislabeling. The doubling step halves remaining
path lengths each round, so convergence is O(log diameter): 50 iterations
cover diameters up to ~2^50, and exhausting the cap raises instead of
returning wrong labels. `localCheckpoint` after every round cuts the
lineage that would otherwise grow the plan exponentially (SURVEY.md §4.2
#3).

Works on any orderable id column: `plans/pipeline.py` passes dense `long`
nids, the checkpointed path (`plans/checkpoint.py`) url strings. Labels are
the component's minimum id. Node ids are never hashed, so no 64-bit
collision can merge unrelated clusters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dedup_spark.config import DedupConfig, DEFAULT_CONFIG


def connected_components(
    edges: DataFrame,
    config: DedupConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """edges(id_a, id_b) -> labels(id, cluster_id).

    cluster_id = min id in the component (deterministic, partition-invariant).
    Only nodes that appear in an edge are returned (singletons dropped —
    reference invariant /root/reference/src/find_duplicates_map.cpp:196-201).
    """
    e = edges.select("id_a", "id_b").filter(F.col("id_a") != F.col("id_b")).distinct()
    # symmetric neighbor view incl. self-loop so labels never regress
    sym = e.unionByName(
        e.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
    )
    # checkpoint sym FIRST: labels derive from it, so the (possibly very
    # expensive) upstream pair pipeline is materialized exactly once
    sym = sym.localCheckpoint(eager=True)
    labels = (
        sym.select(F.col("id_a").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint(eager=True)
    )

    for _ in range(config.cc_max_iterations):
        # min label over closed neighborhood: self + neighbors' labels
        nbr_min = (
            sym.join(labels, sym.id_b == labels.id)
            .groupBy(sym.id_a.alias("id"))
            .agg(F.min("label").alias("nbr_label"))
        )
        stepped = (
            labels.join(nbr_min, "id", "left")
            .select(
                "id",
                F.col("label").alias("_old"),
                F.least(
                    F.col("label"), F.coalesce("nbr_label", F.col("label"))
                ).alias("label"),
            )
            # checkpoint before the self-join below or the neighbor agg
            # subtree computes twice in one round
            .localCheckpoint(eager=True)
        )
        # pointer doubling: adopt the label of your current label (labels are
        # node ids, so the dereference is a self-join; labels only decrease,
        # so least() keeps the pass monotone and the fixpoint identical)
        deref = stepped.select(
            F.col("id").alias("_lid"), F.col("label").alias("_llabel")
        )
        new_labels = (
            stepped.join(deref, stepped.label == deref._lid, "left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce("_llabel", F.col("label"))
                ).alias("label"),
                "_old",
            )
            .withColumn("_changed", F.col("label") < F.col("_old"))
            .drop("_old")
        )
        new_labels = new_labels.localCheckpoint(eager=True)
        changed = new_labels.filter(F.col("_changed")).limit(1).count()
        labels = new_labels.drop("_changed")
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in "
            f"{config.cc_max_iterations} rounds (graph diameter > "
            f"~2^{config.cc_max_iterations}): refusing to return partial "
            "labels"
        )

    return labels.select("id", F.col("label").alias("cluster_id"))
