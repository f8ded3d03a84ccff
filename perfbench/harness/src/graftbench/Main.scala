package graftbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** One operation of a workload: a registered query (`query`) or a SQL
  * statement on the `graft` catalog (`sql`). `{v}` in the SQL is
  * replaced by the versioned table's version minus `back`. */
final case class Op(name: String, kind: String, layer: String,
                    query: Option[String], sql: Option[String], back: Int)

/** The benchmark's JVM side. It reads a plan written by `run.py`,
  * sets the engine up `setups` times, runs one warm-up pass and then
  * timed passes over the plan's operation list for `seconds`, runs
  * every checked operation once and writes its output for the DuckDB
  * comparison, and writes every raw timing, span and Spark job to one
  * JSON file.
  * Metrics are computed from that file by `run.py`.
  *
  * The engine is reached only through `SparkEntry.configure`,
  * `SparkEntry.queries` and `spark.sql`.
  *
  * Usage: Main <plan.json> <result.json>
  */
object Main {
  val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val plan = mapper.readTree(new File(args(0)))
    val out = mapper.createObjectNode()
    new Run(plan, out).run()
    Files.writeString(Paths.get(args(1)), mapper.writeValueAsString(out))
  }

  def text(n: JsonNode, k: String): Option[String] =
    Option(n.get(k)).filterNot(_.isNull).map(_.asText)
}

private final class Run(plan: JsonNode, out: ObjectNode) {
  import Main.text

  private val cores = plan.get("cores").asInt
  private val seconds = plan.get("seconds").asDouble
  private val traced = plan.get("trace").asBoolean
  private val inputs = plan.get("inputs").asText
  private val work = plan.get("work").asText
  private val cycle = plan.get("cycle").asBoolean
  private val passLen = plan.get("pass_len").asInt
  private val minPasses = plan.get("min_passes").asInt
  private val ops: IndexedSeq[Op] = plan.get("ops").asScala.map { o =>
    Op(o.get("name").asText, o.get("kind").asText, o.get("layer").asText,
      text(o, "query"), text(o, "sql"), Option(o.get("back")).map(_.asInt).getOrElse(0))
  }.toIndexedSeq
  private val versionTable = text(plan, "version_table")
  private val tableRoot = text(plan, "table_root")

  private var spark: SparkSession = _
  private var trace: Trace = _
  private var version = 0L     // the versioned table's current version
  private var baseVersion = 0L // its version once set-up created it
  private var next = 0 // position in `ops` of the next operation to run
  // every operation run since the last set-up created the tables
  private val opLog = out.putArray("op_log")

  def run(): Unit = {
    val setups = out.putArray("setups")
    for (i <- 0 until plan.get("setups").asInt) {
      if (spark != null) teardown()
      setups.add(setup())
    }
    // One untimed warm-up pass. When the operation list repeats, every
    // pass gives the same outputs, so the warm-up is the check pass.
    val checks = out.putArray("checks")
    val w0 = System.nanoTime()
    if (cycle) check(checks) else pass(false)
    out.put("warmup_s", (System.nanoTime() - w0) / 1e9)

    val passes = out.putArray("passes")
    val t0 = System.nanoTime()
    var i = 0
    // A traced run interleaves untraced and traced passes in the order
    // U T T U ..., at least two of each, so tracing overhead is measured
    // within the run and neither side gets all the early passes.
    val least = if (traced) math.max(4, minPasses) else minPasses
    while ((System.nanoTime() - t0) / 1e9 < seconds || i < least) {
      passes.add(pass(traced && (i % 4 == 1 || i % 4 == 2)))
      i += 1
    }
    out.put("timed_s", (System.nanoTime() - t0) / 1e9)
    out.put("peak_rss_mb", peakRssMb())
    tableRoot.foreach(r => out.put("table_mb", du(new File(r)) / 1e6))

    if (!cycle) check(checks)
    if (traced) trace.write(out)
    teardown()
  }

  // ---- set-up -----------------------------------------------------------

  private def setup(): ObjectNode = {
    val rec = Main.mapper.createObjectNode()
    val t0 = System.nanoTime()
    spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "org.apache.spark.sql.graftbridge.GraftExtensions")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val t1 = System.nanoTime()
    SparkEntry.configure(spark)
    val t2 = System.nanoTime()
    trace = new Trace(spark, cores, traced)
    for (t <- plan.get("tables").asScala.map(_.asText))
      spark.read.parquet(s"$inputs/$t.parquet").createOrReplaceTempView(t)
    plan.get("setup_sql").asScala.foreach(s => spark.sql(s.asText).collect())
    version = currentVersion()
    baseVersion = version
    val t3 = System.nanoTime()
    next = 0
    opLog.removeAll()
    rec.put("build_s", (t1 - t0) / 1e9)
    rec.put("configure_s", (t2 - t1) / 1e9)
    rec.put("load_s", (t3 - t2) / 1e9)
    rec.put("total_s", (t3 - t0) / 1e9)
    rec
  }

  /** Leaves nothing behind for the next set-up: the graft table, the
    * cache, persisted RDDs and the session. */
  private def teardown(): Unit = {
    plan.get("teardown_sql").asScala.foreach(s => spark.sql(s.asText).collect())
    cleanUp()
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def cleanUp(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  private def currentVersion(): Long = versionTable.fold(0L) { t =>
    spark.sql(s"SELECT max(version) FROM vt_history('$t')").head().getLong(0)
  }

  // ---- timed passes -----------------------------------------------------

  private def pass(tracedPass: Boolean): ObjectNode = {
    val rec = Main.mapper.createObjectNode()
    val opsRec = rec.putArray("ops")
    if (tracedPass) tableRoot.foreach(trace.newFiles) // files from before the pass
    trace.beginPass(tracedPass)
    val t0 = System.nanoTime()
    for (_ <- 0 until passLen) {
      if (next >= ops.size) {
        require(cycle, s"operation stream exhausted after ${ops.size} operations")
        next = 0
      }
      val idx = next
      next += 1
      val r = runOp(ops(idx), tracedPass)
      r.put("idx", idx)
      opsRec.add(r)
      opLog.add(r)
    }
    val t1 = System.nanoTime()
    rec.put("traced", tracedPass)
    rec.put("wall_s", (t1 - t0) / 1e9)
    rec.put("jobs", trace.endPass())
    rec
  }

  private def runOp(op: Op, tracedPass: Boolean): ObjectNode = {
    val rec = Main.mapper.createObjectNode()
    rec.put("name", op.name).put("kind", op.kind).put("layer", op.layer)
    val sql = op.sql.map { s =>
      val v = math.max(baseVersion, version - op.back)
      if (s.contains("{v}")) rec.put("version", v)
      s.replace("{v}", v.toString)
    }
    val opSpan = trace.open(op.name, op.layer, "op")
    val t0 = System.nanoTime()
    var phase = "build"
    try {
      val df = trace.phase("build", op.layer) {
        op.query.map(q => SparkEntry.queries(q)(spark, inputs))
          .getOrElse(spark.sql(sql.get))
      }
      phase = "plan"
      trace.phase("plan", op.layer)(df.queryExecution.executedPlan)
      phase = "exec"
      trace.phase("exec", op.layer) {
        // A DML statement has run inside spark.sql; its result is a
        // local relation, so collect() launches no job. A query is
        // run by iterating every row of its physical plan, which
        // computes every output column.
        if (op.kind == "commit") df.collect()
        else df.queryExecution.toRdd.foreach(_ => ())
      }
      rec.put("ok", true)
      if (op.kind == "commit") version += 1
    } catch {
      case e: Throwable =>
        rec.put("ok", false)
        rec.put("error", s"$phase: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage)}".take(400))
    }
    val t1 = System.nanoTime()
    trace.close(opSpan)
    rec.put("t_s", (t1 - t0) / 1e9)
    rec.put("version_after", version)
    if (tracedPass && op.kind == "commit") tableRoot.foreach(r => rec.put("new_files", trace.newFiles(r)))
    cleanUp()
    rec
  }

  // ---- output check -----------------------------------------------------

  /** Runs each checked operation once, outside the timed region, and
    * writes its output as parquet for run.py to compare. */
  private def check(checks: ArrayNode): Unit = {
    val asofUsed = opLog.asScala.flatMap(r => Option(r.get("version")).map(_.asLong))
      .toSeq.distinct.sorted
    val picked = if (asofUsed.size <= 6) asofUsed
      else (0 until 6).map(i => asofUsed(i * (asofUsed.size - 1) / 5)).distinct
    for (c <- plan.get("checks").asScala) {
      val id = c.get("id").asText
      val versions = if (c.has("versions")) picked.map(Some(_)) else Seq(None)
      for (v <- versions) {
        val cid = v.fold(id)(x => s"$id@v$x")
        val rec = checks.addObject().put("id", cid).put("name", id)
        for (q <- text(c, "query"); o <- SparkEntry.oracleSql.get(q)) rec.put("oracle", o)
        v.foreach(x => rec.put("version", x))
        val path = s"$work/out/$cid"
        try {
          val df = text(c, "query").map(q => SparkEntry.queries(q)(spark, inputs))
            .getOrElse(spark.sql(text(c, "sql").get.replace("{v}", v.getOrElse(version).toString)))
          df.coalesce(1).write.mode("overwrite").parquet(path)
          rec.put("path", path).put("ok", true)
        } catch {
          case e: Throwable =>
            rec.put("ok", false)
            rec.put("error", s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage)}".take(400))
        }
        cleanUp()
      }
    }
    out.put("version_base", baseVersion)
    out.put("version_final", version)
    versionTable.foreach { t =>
      val h = out.putArray("history")
      spark.sql(s"SELECT version FROM vt_history('$t') ORDER BY version").collect()
        .foreach(r => h.add(r.getLong(0)))
    }
  }

  // ---- process and disk -------------------------------------------------

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(-1.0)

  private def du(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(du).sum
    else f.length
}
