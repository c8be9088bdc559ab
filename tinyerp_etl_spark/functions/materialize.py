"""Lineage-truncating materialization with a reliability seam.

Several operators re-traverse or iterate on an intermediate frame
(connected-components labels, hierarchy frontiers, tokenized corpora,
packing inputs, fixed-point joins). Re-deriving the frame from lineage
on every traversal would re-run the upstream plan N times, so they
materialize it once. Two materialization strategies exist and differ
only in failure semantics, not results:

- ``localCheckpoint`` (the default): blocks live in executor block
  managers. Fastest — no filesystem round-trip — and exactly right on
  local[N] where "executor loss" means the whole JVM died anyway. On a
  real cluster, though, a lost executor takes its blocks with it AND
  the truncated lineage means Spark cannot recompute them: a
  multi-hour job dies at hour three.
- ``checkpoint``: blocks are written to Spark's checkpoint directory
  (HDFS/S3 on a cluster), so any executor can re-read them after a
  loss. One write + N reads of distributed storage — slower per
  materialization, but the only strategy whose failure story survives
  a 1000-executor run where *some* executor loss is a certainty.

``materialize(df)`` routes between them per session:

    spark.conf.set("spark.graft.materialize.reliable", "true")
    spark.sparkContext.setCheckpointDir("hdfs:///jobs/ckpt")
    # or start the session with spark.checkpoint.dir=hdfs:///jobs/ckpt

Both strategies produce bit-identical frames (the tests pin this), so
flipping the switch changes durability, never answers. The reference
has no analog — its single PostgreSQL transaction either commits or
rolls back (ref tiny_api_v2_cliente.py:404-413); this is the
distributed-failure counterpart the engine needs at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

RELIABLE_CONF = "spark.graft.materialize.reliable"


def materialize(df: DataFrame) -> DataFrame:
    """Materialize ``df`` eagerly and truncate its lineage.

    The session conf ``spark.graft.materialize.reliable`` moves every
    call onto durable checkpointing without touching operator code.
    That path writes into Spark's checkpoint directory and raises when
    none is set, rather than silently falling back: a caller who asked
    for executor-loss durability must not get executor-local blocks.
    """
    spark = df.sparkSession
    if spark.conf.get(RELIABLE_CONF, "false").strip().lower() != "true":
        return df.localCheckpoint()
    if spark.sparkContext.getCheckpointDir() is None:
        raise ValueError(
            "reliable materialization needs a checkpoint directory: set "
            "spark.checkpoint.dir or call sparkContext.setCheckpointDir(...) "
            "(a durable, executor-reachable path — HDFS/S3 on a cluster)"
        )
    # Classic RDD lore says persist-before-checkpoint or the write job
    # recomputes the plan; Spark 4's Dataset.checkpoint does NOT pay
    # that tax (accumulator-pinned by test_reliable_checkpoint_single_
    # evaluation — n evaluations, not 2n), so no defensive persist here.
    return df.checkpoint()


def sort_after_pin(df: DataFrame, *cols) -> DataFrame:
    """Global sort over a PINNED frame — the presentation ``orderBy``
    for an expensive map-only (un-exchanged) chain.

    A rangepartitioning Exchange derives its sort boundaries by
    SAMPLING its child, then runs the child again as the shuffle map
    stage — so a chain with no exchange of its own below a global
    sort executes TWICE per action (optimization round 14, guide
    §1.4/§2: measured on the Arrow repetition summary at sf0.1,
    noop-sink 5.4 s → 2.3 s once pinned; the count() track never saw
    it because Catalyst drops a sort under count). Aggregated or
    joined plans already end in a shuffle stage the sampler reads
    back cheaply, so they don't need — and shouldn't pay — the pin.
    At cluster scale the trade is one materialization of the (small,
    post-projection) output versus re-running the corpus-wide
    tokenize/Arrow chain a second time.
    """
    return materialize(df).orderBy(*cols)
