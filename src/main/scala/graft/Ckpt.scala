package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.graftbridge.CheckpointStats
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

/** Lineage-cut policy for iterative plans.
  *
  * `localCheckpoint` keeps blocks in executor storage memory — fast,
  * but on a real cluster an executor loss (or memory-pressure
  * eviction) makes the job unrecoverable ("lineage truncated and
  * cannot be recomputed"). So: when a reliable checkpoint directory is
  * configured (`spark.graft.checkpointDir` conf or the
  * `SPARK_GRAFT_CHECKPOINT_DIR` env var), cut lineage with a reliable
  * `checkpoint()` to that directory; otherwise fall back to
  * `localCheckpoint` as the local-mode fast path. Every iterative
  * operator routes through [[cutWith]] (or [[cut]], its metric-free
  * form), so the policy is one switch.
  */
object Ckpt {
  def cut(df: DataFrame): DataFrame = cutWith(df)._1

  private val observeSeq = new java.util.concurrent.atomic.AtomicLong

  /** [[cut]] that also returns `metrics` computed by the cut's own
    * materialization (no extra job): the returned row holds the exact
    * row count at index 0, then `metrics` in order. A null numeric
    * metric (a `sum` over zero rows) reads as 0.
    *
    * The metrics ride one uniquely named `observe`. The eager
    * checkpoint has executed the observed frame's physical plan, so
    * its `queryExecution.observedMetrics` already holds them —
    * read synchronously, no listener involved.
    *
    * The row count also grounds the cut leaf's statistics
    * ([[CheckpointStats.withFreshStats]]): the inherited size estimate
    * compounds geometrically across self-join rounds, while for
    * all-fixed-width schemas count × UnsafeRow width is the frame's
    * true byte size, so a genuinely small per-round state broadcasts
    * in its next join instead of inheriting the block manager's
    * java-object-inflated memSize (measured ~9× on 2-long label rows:
    * 12.6 MB reported for a 1.4 MB frame — just over the broadcast
    * threshold, turning every per-round self-join into a 2-exchange
    * sort-merge join).
    */
  def cutWith(df: DataFrame, metrics: Column*): (DataFrame, Row) = {
    val spark = df.sparkSession
    val name = s"graft_cut_${observeSeq.incrementAndGet()}"
    val observed = df.observe(name, count(lit(1)).as("n"), metrics: _*)
    val dir = Option(spark.conf.get("spark.graft.checkpointDir", null))
      .orElse(sys.env.get("SPARK_GRAFT_CHECKPOINT_DIR"))
    val cp = dir match {
      case Some(d) if d.nonEmpty =>
        // setCheckpointDir appends a session UUID; re-point only when
        // the configured ROOT actually changed (comparing path-only,
        // since SparkContext stores a scheme-qualified URI).
        val want = new org.apache.hadoop.fs.Path(d).toUri.getPath
        val engaged = spark.sparkContext.getCheckpointDir
          .exists(c => new org.apache.hadoop.fs.Path(c).toUri.getPath.startsWith(want))
        if (!engaged) spark.sparkContext.setCheckpointDir(d)
        observed.checkpoint(eager = true)
      case _ => observed.localCheckpoint(eager = true)
    }
    val raw = observed.queryExecution.observedMetrics.getOrElse(name,
      throw new IllegalStateException(
        s"Ckpt.cutWith: observe metrics '$name' missing after the eager checkpoint"))
    val row = new GenericRowWithSchema(raw.toSeq.zip(raw.schema.fields).map {
      case (null, f) => f.dataType match {
        case LongType => 0L
        case DoubleType => 0.0
        case _: DecimalType => java.math.BigDecimal.ZERO
        case _ => null
      }
      case (v, _) => v
    }.toArray, raw.schema)
    (CheckpointStats.withFreshStats(cp, row.getLong(0)), row)
  }

  /** [[cut]] elided when the frame is ALREADY a materialized
    * checkpoint leaf (or a bare column projection over one):
    * re-checkpointing re-writes the whole frame — at cluster scale a
    * redundant full pass of the edge table to the checkpoint
    * filesystem every time composed operators (transitive-reduce →
    * tip-clip → bubble-remove → unitigs) hand each other frames their
    * previous stage just materialized. Only for stage-boundary cuts
    * whose frames are never released mid-operator; iterative rounds
    * keep plain [[cut]] so release() bookkeeping stays
    * one-frame-per-checkpoint.
    */
  def cutLight(df: DataFrame): DataFrame =
    if (isMaterializedLeaf(df.queryExecution.analyzed)) df else cut(df)

  private def isMaterializedLeaf(
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean = p match {
    case org.apache.spark.sql.catalyst.plans.logical.Project(pl, child)
        if pl.forall(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions.AttributeReference]) =>
      isMaterializedLeaf(child)
    case lr: org.apache.spark.sql.execution.LogicalRDD =>
      lr.rdd.isCheckpointed // true for reliable AND local checkpoints
    case _ => false
  }

  /** Free the storage behind a frame produced by [[cut]] once a later
    * round has materialized and the frame can never be read again:
    * reliable-checkpoint files are deleted (Spark itself never cleans
    * them — a 64-round loop would otherwise keep 64 full copies on
    * the checkpoint filesystem) and local-checkpoint blocks are
    * unpersisted. No-op on non-checkpoint frames; never throws.
    */
  def release(df: DataFrame): Unit = CheckpointStats.release(df)
}
