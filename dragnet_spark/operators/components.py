"""Distributed connected components over a candidate-pair edge list.

The consumer side of every near-dup miner here: MinHash / SimHash /
embedding-LSH pairs are *edges*; duplicate clusters and template
families are their connected components.  At 10^12 docs the edge list
is linear (mega-bucket chain caps, ``dedup.py``), but the node set is
the corpus -- so the components step must itself be a DataFrame
algorithm, never a driver-side union-find (VERDICT r03 #1).

Algorithm: min-label propagation with pointer jumping (the classic
PRAM/Pregel hybrid, same family as Kiveris et al.'s two-phase
MapReduce CC).  Each node starts labeled with its own id; every round

1. takes the min label over itself and its neighbors (one join +
   groupBy over the symmetric edge list), then
2. *pointer-jumps*: relabels to its label's current label
   (a self-join on the label column).

Labels are monotonically non-increasing and step 2 roughly doubles the
distance a min has traveled per round, so a component of diameter d
converges in O(log d) rounds -- and chain-capped mega-buckets emit
sorted-adjacent chains, so d is bounded by the largest bucket, not the
corpus.  Rounds are bounded (``max_rounds``) and the result carries an
explicit ``converged`` flag rather than silently returning partial
components (no silent caps).

Per round: 3 shuffles over O(|V| + |E|) rows of two thin columns.  Each
round ends in ``localCheckpoint`` to truncate lineage (on a real
cluster with a checkpoint dir configured, ``checkpoint`` gives the same
plan truncation plus fault tolerance); no node- or edge-level data ever
reaches the driver.  Superseded checkpoints are dropped with
:func:`release_checkpoint` as soon as the next one is written.
"""

from __future__ import annotations

import pyspark.sql.functions as F


def release_checkpoint(df):
    """Drop the blocks behind a ``localCheckpoint`` frame.

    ``DataFrame.unpersist()`` is a no-op on one: the checkpointed RDD is
    not registered with the cache manager, so its blocks would stay
    pinned until the JVM garbage-collects the frame.  This unpersists
    the RDD under the frame's ``LogicalRDD`` leaf instead.
    """
    df._jdf.queryExecution().logical().rdd().unpersist(False)


def propagate_min_labels(nodes, edges, id_col='doc_id',
                         src_col='src', dst_col='dst', max_rounds=24):
    """Connected components by iterative min-label propagation.

    ``nodes``: one row per node (``id_col``); ``edges``: undirected
    pairs (``src_col``, ``dst_col``) -- each stored once, symmetrized
    here.  Returns ``(labels_df, converged)`` where ``labels_df`` is
    ``(id_col, label)`` with ``label`` = the component's minimum node
    id, and ``converged`` is False iff ``max_rounds`` elapsed with
    labels still moving (only possible when a component's diameter
    exceeds ~2^max_rounds -- flag it, don't trust the labels).
    """
    fwd = edges.select(F.col(src_col).alias('_src'),
                       F.col(dst_col).alias('_dst'))
    # materialized once: the edge list is re-joined every round, and its
    # upstream (an LSH candidate pipeline, typically) must not re-run
    # per round
    sym = (fwd.union(fwd.select(F.col('_dst').alias('_src'),
                                F.col('_src').alias('_dst')))
           .localCheckpoint(eager=True))

    labels = (nodes.select(F.col(id_col).alias('_id'),
                           F.col(id_col).alias('label'))
              .localCheckpoint(eager=True))
    converged = False
    for _ in range(max_rounds):
        # 1. neighbor min: each node offers its label to its neighbors
        nbr = (sym.join(labels.withColumnRenamed('_id', '_src'), '_src')
               .select(F.col('_dst').alias('_id'), 'label'))
        combined = (labels.unionByName(nbr)
                    .groupBy('_id').agg(F.min('label').alias('label')))
        # 2. pointer jump: label <- label(label).  Every label IS a node
        # id (labels start as ids and min() only selects existing ones),
        # and node labels never increase, so the jump is monotone too.
        jump = (combined
                .join(combined.select(F.col('_id').alias('label'),
                                      F.col('label').alias('_jl')),
                      'label', 'left')
                .select('_id',
                        F.coalesce('_jl', 'label').alias('label')))
        new_labels = jump.localCheckpoint(eager=True)
        moved = (new_labels.withColumnRenamed('label', '_new')
                 .join(labels, '_id')
                 .where(F.col('_new') != F.col('label')))
        done = moved.isEmpty()
        release_checkpoint(labels)
        labels = new_labels
        if done:
            converged = True
            break
    # the edge list is only consumed during the rounds; the returned
    # labels are independently checkpointed -- release it now rather
    # than pinning a 2x-edge RDD in block storage per call
    release_checkpoint(sym)
    return labels.select(F.col('_id').alias(id_col), 'label'), converged
