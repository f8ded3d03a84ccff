package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Driver-run benchmark: times every `SparkEntry.queries` entry at the
  * SF the driver points at and emits ONE machine-readable JSON line.
  *
  * Robustness contract (round-3 hardening):
  *  - INTERLEAVED whole-suite passes: pass 1 runs all queries, then
  *    pass 2, then pass 3 (`SPARK_GRAFT_BENCH_RUNS`, default 3); the
  *    per-query MINIMUM across passes is recorded. This host has
  *    documented 40-90s virtualization-steal stall windows; the
  *    round-2 back-to-back layout let one sustained window eat all 3
  *    runs of the same query (326s recorded vs ~110s real).
  *    Interleaving means a stall window hits *different* queries in
  *    each pass, so the min survives.
  *  - failures are NOT swallowed: a failed query records `-1`, is
  *    listed in `"failures"`, is printed to stderr with its message,
  *    and the process exits nonzero. A query that fails in one pass
  *    is not retried in later passes.
  *  - the JSON line goes to stdout AND to `<out>_c<cpus>.json`, plus
  *    `<out>.json` itself on 32 cores (`<out>.json` is
  *    `SPARK_GRAFT_BENCH_OUT`, default `bench_out.json` in the repo).
  *    Launch via `scripts/bench.sh` (spark-submit) so stdout carries
  *    zero sbt `[info]`/`[success]` decoration.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32") // spec: local[32]
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt.max(1)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/root/repo/bench_out.json")
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
    // local-iteration filter: comma-separated query names; unset = all
    // (the driver never sets it, so round artifacts stay full-suite)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val best = scala.collection.mutable.Map.empty[String, Double]
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    for (pass <- 1 to runs; (name, fn) <- names if !failed(name)) {
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).count()
        val t = (System.nanoTime() - t0) / 1e9
        if (!best.get(name).exists(_ <= t)) best(name) = t
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name FAILED (pass $pass): ${e.getClass.getSimpleName}: ${e.getMessage}")
        failed += name
        errors(name) = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(500)
      } finally {
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      }
    }
    val results = names.map { case (name, _) =>
      name -> (if (failed(name)) -1.0 else best(name))
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val ok = results.filter(_._2 >= 0)
    val total = if (ok.nonEmpty) ok.map(_._2).sum else 0.0
    val fs = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // error strings ride the artifact so a broken round is diagnosable
    // without rerunning (round-5's 12-query break was only explained
    // by a live repro). JSON-escape: the messages carry quotes/newlines.
    def esc(s: String): String = s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    }
    val es = errors.map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }
      .mkString("{", ",", "}")
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","cpus":$cpus,"queries":$qs,"sf":"$sfDir","runs_per_query":$runs,"interleaved":true,"failures":$fs,"errors":$es}"""
    // COMPACT summary (≤~200 bytes): the driver keeps only a 2 KB
    // stdout tail, and the full per-query record (~6 KB at 175
    // queries) truncates mid-string there — r5 AND r6 both recorded
    // `"parsed": null`. The short line carries the headline numbers
    // whole; the full record rides the file (and mid-stream for
    // humans).
    // Every run writes a cpu-count-suffixed copy, so each core count's
    // per-query map survives side by side; the un-suffixed record is
    // the 32-core run's alone — an 8-core scaling leg re-running this
    // main with the same default outPath would otherwise overwrite it.
    val outCpu = (if (outPath.endsWith(".json"))
        outPath.stripSuffix(".json") else outPath) + s"_c$cpus.json"
    val outs = (if (cpus == "32") Seq(outPath) else Nil) :+ outCpu
    val summary =
      s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${names.size},"n_failed":${failed.size},"cpus":$cpus,"sf":"$sfDir","runs_per_query":$runs,"full":"${outs.head}","full_cpu":"$outCpu"}"""
    println(summary)
    println(json)
    for (p <- outs)
      try Files.writeString(Paths.get(p), json + "\n")
      catch { case e: Throwable => System.err.println(s"[bench] could not write $p: ${e.getMessage}") }
    spark.stop()
    // the record must survive ANY line-oriented harness: re-print as
    // the process's LAST act (after spark.stop()'s shutdown chatter),
    // flushed. STDOUT ONLY: the driver keeps a combined stdout+stderr
    // tail, and an sbt-`[error]`-decorated stderr copy landing after
    // the stdout flush made the tail end on a non-JSON line for six
    // rounds straight (`parsed: null`). The SHORT line goes absolutely
    // last so a tail parser always ends on a complete JSON record.
    println(json)
    println(summary)
    System.out.flush()
    if (failed.nonEmpty) sys.exit(1)
  }
}
