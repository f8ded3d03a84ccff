package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.execution.LogicalRDD

/** Fresh, bounded statistics for checkpointed frames.
  *
  * `Dataset.checkpoint`/`localCheckpoint` attach the ORIGIN plan's
  * estimated statistics to the resulting `LogicalRDD` leaf. Catalyst's
  * size-only join estimate multiplies the children's `sizeInBytes`,
  * so an iterative self-join loop compounds the inherited estimate
  * geometrically — a 3-way self-join per round cubes it every round,
  * and by round ~12 the `sizeInBytes` BigInt has millions of digits.
  * At that point the DRIVER burns unbounded CPU inside
  * `BigInteger.multiply` during planning (observed: a connected-
  * components round that executes in ~1s spending 40+ minutes in
  * stats estimation).
  *
  * [[withFreshStats]] rebuilds the leaf with REAL stats: the
  * materialized block sizes from the block manager (the local-
  * checkpoint path — the checkpoint just ran eagerly, so blocks
  * exist), or for reliable checkpoints — whose blocks live on disk,
  * not in the block manager — the actual on-disk size of the
  * checkpoint files (`FileSystem.getContentSummary`), so a 16-row
  * centroid table cut on the reliable path still broadcasts in every
  * downstream join instead of inheriting the never-broadcast cap.
  * The 1 TiB cap remains the last-resort fallback only. Either way
  * the estimate is grounded per round instead of compounding across
  * rounds. Lives under `org.apache.spark.sql` for the `private[sql]`
  * `Dataset.ofRows` constructor.
  */
object CheckpointStats {
  private val Cap = BigInt(1L) << 40 // 1 TiB: never-broadcast, never-compounding

  /** On-disk size of a reliably-checkpointed RDD's files, if any. */
  private def checkpointFileSize(cp: org.apache.spark.sql.classic.Dataset[_],
                                 lr: LogicalRDD): Option[BigInt] =
    lr.rdd.getCheckpointFile.flatMap { f =>
      try {
        val path = new org.apache.hadoop.fs.Path(f)
        val fs = path.getFileSystem(cp.sparkSession.sparkContext.hadoopConfiguration)
        Some(BigInt(fs.getContentSummary(path).getLength)).filter(_ > 0)
      } catch { case _: Throwable => None }
    }

  /** Exact UnsafeRow byte width when EVERY column is a fixed-width
    * atomic type (stored inline: null bitset word(s) + 8 bytes per
    * field) — None as soon as any var-width column (string, array,
    * map, struct, large decimal) could make count×width an
    * UNDERestimate. Honest small stats must never come from a lower
    * bound: a spurious broadcast of a big frame is an OOM at scale,
    * while the inflated memSize fallback only costs a shuffle. */
  private def fixedRowWidth(output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute]): Option[Long] = {
    import org.apache.spark.sql.types._
    val ok = output.forall(_.dataType match {
      case BooleanType | ByteType | ShortType | IntegerType | LongType |
           FloatType | DoubleType | DateType | TimestampType |
           TimestampNTZType => true
      case d: DecimalType => d.precision <= Decimal.MAX_LONG_DIGITS
      case _ => false
    })
    if (!ok || output.isEmpty) None
    else Some(8L * ((output.size + 63) / 64) + 8L * output.size)
  }

  /** `cp` with its leaf statistics rebuilt from `rowCount`, the exact
    * row count `graft.Ckpt.cutWith` observed on the materialization. */
  def withFreshStats(cp: DataFrame, rowCount: Long): DataFrame = {
    val classic = cp.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    classic.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        val spark = classic.sparkSession
        // exact bytes (count × UnsafeRow width) for fixed-width rows;
        // the block manager's memSize otherwise (java-object inflated
        // ~5-10× on narrow rows, but never an underestimate)
        val exact = fixedRowWidth(lr.output).map(BigInt(rowCount) * _)
        val measured = exact
          .orElse(spark.sparkContext.getRDDStorageInfo
            .find(_.id == lr.rdd.id)
            .map(i => BigInt(i.memSize + i.diskSize))
            .filter(_ > 0))
          .orElse(checkpointFileSize(classic, lr))
        val stats = Statistics(sizeInBytes = measured.getOrElse(Cap).min(Cap).max(1),
          rowCount = Some(BigInt(rowCount)))
        org.apache.spark.sql.classic.Dataset.ofRows(spark,
          new LogicalRDD(lr.output, lr.rdd, lr.outputPartitioning,
            lr.outputOrdering, lr.isStreaming, lr.stream)(spark, Some(stats), None))
      case _ => cp
    }
  }

  /** Release the storage behind a frame cut by `Ckpt.cut`, once a
    * later round has materialized and the frame can never be read
    * again: deletes reliable-checkpoint files (nothing else ever
    * deletes them — `spark.cleaner.referenceTracking.cleanCheckpoints`
    * defaults to false, so a 64-round loop would otherwise keep 64
    * full copies of the frame on the checkpoint filesystem) and drops
    * local-checkpoint blocks from executor storage. No-op on frames
    * that are not checkpoint leaves; never throws.
    */
  /** The reliable-checkpoint path backing a cut frame, if any —
    * lets callers (and specs) observe what [[release]] will delete. */
  def checkpointFileOf(df: DataFrame): Option[String] =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution.analyzed match {
      case lr: LogicalRDD => lr.rdd.getCheckpointFile
      case _ => None
    }

  def release(df: DataFrame): Unit = {
    val classic = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    classic.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        lr.rdd.getCheckpointFile.foreach { f =>
          try {
            val path = new org.apache.hadoop.fs.Path(f)
            path.getFileSystem(classic.sparkSession.sparkContext.hadoopConfiguration)
              .delete(path, true)
          } catch { case _: Throwable => () }
        }
        try lr.rdd.unpersist(blocking = false) catch { case _: Throwable => () }
      case _ => ()
    }
  }
}
