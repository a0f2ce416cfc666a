"""Scale-adaptive partitioning for iterative small-state loops.

The iterative operators (connected components, ancestor closure,
sketch/frontier propagation) run O(rounds) joins and aggregations
over STATE tables — label maps, closures, frontiers — whose size is
set by the graph, not the corpus. The session's
``spark.sql.shuffle.partitions`` is sized for corpus-scale exchanges
(2-3x total cores on a cluster), so every tiny round-state exchange
fans out into hundreds of near-empty reduce tasks and the loop pays
task-scheduling overhead O(rounds x partitions).

The fix is the guide's §2.2 rule — size reduce partitions by the
data, not by a static core-count constant — applied where AQE
cannot: AQE's coalescing keeps at least ``defaultParallelism``
partitions under its default ``parallelismFirst`` policy, and
per-round eager checkpoints re-plan from scratch each round anyway.
Because every loop here materializes its state per round
(localCheckpoint), the true row count is available for free, and the
loop runs its rounds under a shuffle-partition count derived from it.

Sizing rule (:func:`scaled_partitions`): round-state work is
join/agg COMPUTE over narrow rows, so the fine-grained target is
~100k rows per task (tens of ms of work — enough to amortize task
launch, small enough that a handful of state rows does not serialize
behind one task). That fine target is capped at
``max(4 x defaultParallelism, n_rows / 2M)``: beyond ~4 waves of
tasks, extra partitions add scheduling overhead without adding
parallelism, and the byte-oriented floor (~2M rows per partition,
i.e. the guide's 100 MB-1 GB window for wider state rows) takes over
at web-graph scale. A 90k-edge same-as graph gets 1 partition; a
10^10-edge crawl graph on a 3000-core cluster gets ~12k partitions —
both from the same formula, nothing local-mode-specific.

The sized count is set on a CHILD session (:func:`state_session`,
``spark.newSession()``: the same SparkContext, cache and global temp
views, the caller's SQL settings), never on the caller's session. The
loop moves its state into the child through a uniquely named global
temp view (:func:`rerooted`) and hands its result back the same way,
so the caller's ``spark.sql.shuffle.partitions`` is never changed:
``run_staged`` plans other stages on other driver threads against
that session while the connected-components loop of canonicalize
runs, and a session-wide override would leak the loop's state-sized
count into their plans. Moving a frame between sessions keeps its
plan (a join or union across sessions is a plain plan), so the
min() aggregations keep their map-side partial aggregation, which an
explicit ``repartition(n, key)`` would lose. Interleaved A/B at sf1.0
(min of 3, loaded box), with the count scoped to the loop:
kg_components 3.10 -> 2.59 s, onto_closure 4.42 -> 4.07 s vs the
unscoped loops; a pure 1-partition override instead REGRESSED
onto_closure (5.45 s) by serializing the closure self-join — which
is why the fine target exists.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession

SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"

#: fine-grained target: rows of iterative state per reduce task.
ROWS_PER_STATE_PARTITION = 100_000
#: coarse floor used above the parallelism cap (byte-oriented regime).
ROWS_PER_PARTITION_COARSE = 2_000_000


def scaled_partitions(spark: SparkSession, n_rows: int) -> int:
    """Shuffle-partition count for ``n_rows`` of iterative state."""
    n_rows = int(n_rows)
    fine = -(-n_rows // ROWS_PER_STATE_PARTITION)
    cap = max(
        4 * spark.sparkContext.defaultParallelism,
        -(-n_rows // ROWS_PER_PARTITION_COARSE),
    )
    return max(1, min(fine, cap))


def state_session(spark: SparkSession, n_rows: int) -> SparkSession:
    """A child session of ``spark`` with the caller's SQL settings and
    ``spark.sql.shuffle.partitions`` sized for ``n_rows`` of state;
    set the count again on it as the state grows."""
    child = spark.newSession()
    # newSession() starts from the SparkContext's conf: carry over what
    # the caller set at runtime (ANSI mode, time zone, ...)
    own = child.conf.getAll
    for key, value in spark.conf.getAll.items():
        if own.get(key) != value and spark.conf.isModifiable(key):
            child.conf.set(key, value)
    child.conf.set(SHUFFLE_PARTITIONS, str(scaled_partitions(spark, n_rows)))
    return child


def rerooted(df: DataFrame, session: SparkSession) -> DataFrame:
    """``df``'s plan as a frame of ``session``, passed through a
    uniquely named global temp view that is dropped again at once (the
    returned frame holds the analyzed plan, not the view)."""
    view = f"reroot_{uuid.uuid4().hex}"
    df.createGlobalTempView(view)
    try:
        return session.table(f"{session.conf.get('spark.sql.globalTempDatabase')}.{view}")
    finally:
        df.sparkSession.catalog.dropGlobalTempView(view)
