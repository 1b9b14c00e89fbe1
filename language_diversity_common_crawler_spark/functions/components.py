"""Connected components over near-duplicate pair graphs — exact dedup
cluster assignment, the step after pair generation.

The greedy min-id survivor rule in ``dedup.minhash_dedup_survivors`` is
one-hop: a chain a-b-c keeps both a and c
(c's only verified neighbor is b). Transitive-closure dedup — "keep exactly
one document per connected component of the near-dup graph" — needs an
iterative computation; the reference has no dedup at all (this whole family
is the training-data-pipeline extension, SURVEY.md §7).

Spark side: hash-min label propagation. Each node starts labeled with its
own id; every round each node takes the min label over itself and its
neighbors; stop when no label changed. Rounds = graph diameter, and near-dup
components in web corpora are short-diameter clusters (template families,
mirror sets), so the loop is shallow in practice; ``max_iter`` guards the
pathological chain. Each round is ONE shuffle (groupBy node over
labels ∪ neighbor-messages, min-combined map-side); the edge list is
localCheckpoint'd once (a plan leaf) and re-read per round; ``localCheckpoint`` every few rounds
truncates the growing lineage so round k's plan doesn't replay rounds
0..k-1. The alternative O(log n)-round large-star/small-star (Kiveris et
al., "Connected Components in MapReduce and Beyond", SoCC'14) rewrites
edges instead of propagating labels — same shuffle-per-round shape; label
propagation is chosen because its per-round state is one row per node
(never more), while star rounds can transiently inflate the edge list.

Convergence check costs no extra scan of the big state: the per-round
changed-count rides the label aggregation as an observed metric on the
action that materializes the round.

DuckDB oracle: exact reachability via WITH RECURSIVE (UNION-dedup
semantics terminate it), min reachable id = component — independent
algorithm, same fixpoint, so the value-hash comparison is a real check of
the propagation loop, not a twin of it.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    pairs: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    max_iter: int = 30,
    checkpoint_every: int = 3,
) -> DataFrame:
    """(node, component) for every node appearing in ``pairs`` —
    component = min node id reachable through the undirected pair graph.

    ``pairs`` rows are undirected edges (a, b); direction and duplicates
    are immaterial. Nodes with no edges don't appear (callers left-join
    docs and coalesce to the doc's own id — see :func:`dedup_clusters`).
    Raises if the propagation hasn't converged after ``max_iter`` rounds:
    an unconverged labeling is silently wrong, never worth returning.
    """
    # localCheckpoint (not just persist): the edge list is referenced by
    # every propagation round, and a persisted frame still embeds its full
    # upstream lineage (the whole pair-generation chain) in each round's
    # plan — plan size then grows exponentially with rounds and the driver
    # spends more time analyzing plans than executors spend shuffling.
    # Checkpointing makes edges a leaf: each round's plan is two joins.
    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .union(pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    labels.count()  # pin before the loop reuses it

    for it in range(max_iter):
        # neighbor messages: dst receives src's current label
        msgs = edges.join(
            labels.withColumnRenamed("node", "src"), "src"
        ).select(F.col("dst").alias("node"), "component")
        new_labels = (
            labels.unionByName(msgs)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
        )
        if (it + 1) % checkpoint_every == 0:
            # truncate lineage: without this, round k's plan replays all
            # prior rounds' joins (exponential plan growth, driver OOM on
            # deep graphs) — localCheckpoint materializes to executor
            # storage, no HDFS round-trip needed for this derived state
            new_labels = new_labels.localCheckpoint(eager=True)
        else:
            new_labels = new_labels.persist(StorageLevel.MEMORY_AND_DISK)
        # changed-count: join old vs new on node, count strict decreases.
        # The join is co-partitioned (both sides just shuffled on node),
        # and this count is the action that materializes new_labels.
        changed = (
            new_labels.join(
                labels.withColumnRenamed("component", "__old"), "node"
            )
            .filter(F.col("component") < F.col("__old"))
            .count()
        )
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            # converged state is already materialized (the changed-count
            # was the action); checkpoint it so downstream consumers see a
            # leaf, not the last few rounds' join lineage
            return labels.localCheckpoint(eager=True)
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds "
        "(graph diameter exceeds max_iter — raise it for chain-shaped graphs)"
    )


def dedup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Cluster verdict for EVERY document: (doc_id, component,
    cluster_size, kept). component = min doc_id of the near-dup connected
    component (own id for singletons); exactly one kept=true row per
    component.

    Plan: the iterative part runs only over nodes that appear in a pair —
    at sane dup rates that is a small fraction of the corpus — then one
    broadcast-or-hash left join attaches verdicts to the full corpus, and
    one groupBy(component) on the labeled relation yields sizes. The
    corpus-side scan is touched exactly twice (ids + final join), never
    per-iteration."""
    comp = connected_components(pairs, "a", "b")
    labeled = (
        docs.select(F.col(id_col).cast("long").alias(id_col))
        .join(comp.withColumnRenamed("node", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce("component", F.col(id_col)).cast("long").alias("component"),
        )
    )
    sizes = labeled.groupBy("component").agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size")
    )
    return labeled.join(sizes, "component").select(
        id_col,
        "component",
        "cluster_size",
        (F.col(id_col) == F.col("component")).alias("kept"),
    )


def sql_dedup_clusters(
    pairs_select: str,
    table: str = "documents",
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin of :func:`dedup_clusters` via recursive reachability.

    ``reach`` accumulates (node, label) pairs: every node reaches itself,
    and labels flow across edges until the UNION (set semantics) adds no
    new rows — min(label) per node is then the component min, the same
    fixpoint the Spark propagation converges to, computed by a different
    algorithm (full reachability closure vs monotone label descent)."""
    return f"""
WITH RECURSIVE pairs AS ({pairs_select}),
edges AS (
  SELECT a AS src, b AS dst FROM pairs
  UNION
  SELECT b AS src, a AS dst FROM pairs),
reach(node, lbl) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node),
comp AS (SELECT node, MIN(lbl) AS component FROM reach GROUP BY node),
labeled AS (
  SELECT d.{id_col},
         CAST(coalesce(c.component, d.{id_col}) AS BIGINT) AS component
  FROM {table} d LEFT JOIN comp c ON c.node = d.{id_col}),
sizes AS (
  SELECT component, CAST(count(*) AS BIGINT) AS cluster_size
  FROM labeled GROUP BY component)
SELECT l.{id_col}, l.component, s.cluster_size,
       (l.{id_col} = l.component) AS kept
FROM labeled l JOIN sizes s USING (component)
"""
