package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler._
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.jdk.CollectionConverters._

/** Dev-only per-query execution profile: runs the named queries (with
  * the bench's session shape and timing action) and reports, per query,
  * wall seconds, Spark job count, stage count, task count, and summed
  * task time — the numbers that tell WHERE a tiny-SF bench second goes
  * (fixed per-job/stage overhead vs real compute). Never run by the
  * driver; `runMain graft.JobProfile q1,q2,...` (2nd arg = passes).
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val only = args.lift(0).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val passes = args.lift(1).map(_.toInt).getOrElse(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions",
        "org.apache.spark.sql.graftbridge.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jobs = new AtomicInteger; val stages = new AtomicInteger
    val tasks = new AtomicInteger; val taskMs = new AtomicLong
    val shufW = new AtomicLong; val shufR = new AtomicLong
    // per-stage tally for the current pass (GRAFT_PROFILE_STAGES=1):
    // (stage name head, tasks, taskMs, shW) — names the hot stage;
    // the best pass's tally is the one printed
    val stageRows = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int, Long, Long)]()
    val dumpStages = sys.env.get("GRAFT_PROFILE_STAGES").contains("1")
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(s.stageInfo.numTasks)
        taskMs.addAndGet(s.stageInfo.taskMetrics.executorRunTime)
        shufW.addAndGet(s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
        shufR.addAndGet(s.stageInfo.taskMetrics.shuffleReadMetrics.remoteBytesRead
          + s.stageInfo.taskMetrics.shuffleReadMetrics.localBytesRead)
        if (dumpStages) stageRows.add((
          s.stageInfo.name.takeWhile(_ != '\n').take(90), s.stageInfo.numTasks,
          s.stageInfo.taskMetrics.executorRunTime,
          s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten))
      }
    })
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    println(f"${"query"}%-28s ${"best_s"}%8s ${"jobs"}%5s ${"stg"}%5s ${"tasks"}%6s ${"taskS"}%7s ${"shW_MB"}%7s")
    for ((name, fn) <- names) {
      var best = Double.MaxValue
      var bj = 0; var bs = 0; var bt = 0; var btm = 0L; var bw = 0L
      var bestStages = Seq.empty[(String, Int, Long, Long)]
      for (_ <- 1 to passes) {
        jobs.set(0); stages.set(0); tasks.set(0); taskMs.set(0); shufW.set(0); shufR.set(0)
        stageRows.clear()
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val t = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
        org.apache.spark.sql.graftbridge.ListenerBus.drain(spark.sparkContext)
        if (t < best) { best = t; bj = jobs.get; bs = stages.get; bt = tasks.get
          btm = taskMs.get; bw = shufW.get
          bestStages = stageRows.asScala.toSeq }
      }
      println(f"$name%-28s $best%8.2f $bj%5d $bs%5d $bt%6d ${btm / 1000.0}%7.1f ${bw / 1e6}%7.1f")
      if (dumpStages) {
        bestStages.sortBy(-_._3).take(12).foreach {
          case (nm, t, ms, w) =>
            println(f"    [stage] ${ms / 1000.0}%7.2fs $t%5dt ${w / 1e6}%8.2fMB  $nm")
        }
      }
    }
    spark.stop()
  }
}
