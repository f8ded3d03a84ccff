package graft

// Round-17 (optimization round 2/2): focused gates for the internals
// this round changed — the capBuckets bounded-heap aggregate, the
// iterateMonotoneCore fractional-value guard, and the fused
// stats+constraint commit pass.

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** capBuckets moved from a per-bucket row_number window (full
  * (bucket, ord) sort of every bucket row) to a bounded-heap aggregate
  * ([[org.apache.spark.sql.graftbridge.BoundedTopKRows]]). The cap
  * selection feeds LSH candidate generation whose output the DuckDB
  * oracle hash-pins, so selection must stay EXACTLY the window's
  * wherever ordCol is unique per bucket — which the call-site audit
  * guarantees. These gates pin the equivalence on adversarial shapes
  * (degenerate buckets, multi-partition partial merges, k=1 dedup).
  */
class CapBucketsHeapSpec extends SparkSpec {
  import spark.implicits._

  private def windowReference(df: org.apache.spark.sql.DataFrame,
                              bucketCols: Seq[String], ordCol: String,
                              k: Int): org.apache.spark.sql.DataFrame =
    df.withColumn("__bn", row_number().over(
        Window.partitionBy(bucketCols.map(col): _*).orderBy(ordCol)))
      .filter(col("__bn") <= k).drop("__bn")

  test("heap cap == window cap on unique-ord buckets (multi-partition merge path)") {
    // 40 buckets x up to 400 members, ids unique per bucket; 8 input
    // partitions force map-side partial heaps + a merge
    val df = spark.range(8000).repartition(8)
      .select((col("id") % 40).as("b"), col("id").as("m"),
        (col("id") * 31 % 997).as("payload"))
    val got = operators.Dedup.capBuckets(df, Seq("b"), "m", 50)
    val want = windowReference(df, Seq("b"), "m", 50)
    assert(got.columns.toSeq == df.columns.toSeq) // schema & order preserved
    assert(got.count() == want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("degenerate single bucket keeps the k smallest ord rows exactly") {
    val df = spark.range(100000).repartition(16)
      .select(lit(1L).as("b"), (lit(100000L) - col("id")).as("m"))
    val got = operators.Dedup.capBuckets(df, Seq("b"), "m", 7)
      .select("m").as[Long].collect().sorted.toSeq
    assert(got == (1L to 7L), got.toString)
  }

  test("k=1 on (a,b) buckets with ord inside the bucket key = pair dedup") {
    val pairs = Seq((1L, 2L), (1L, 2L), (1L, 2L), (3L, 4L), (3L, 4L), (5L, 6L))
      .toDF("a", "b").repartition(4)
    val got = operators.Dedup.capBuckets(pairs, Seq("a", "b"), "a", 1)
      .as[(Long, Long)].collect().sorted.toSeq
    assert(got == Seq((1L, 2L), (3L, 4L), (5L, 6L)), got.toString)
  }

  test("string ord and string payload survive the heap (copy/serialize path)") {
    val df = Seq(("x", "k3", "pc"), ("x", "k1", "pa"), ("x", "k2", "pb"),
        ("y", "k9", "pz"), ("y", "k1", "pq"))
      .toDF("b", "ord", "p").repartition(3)
    val got = operators.Dedup.capBuckets(df, Seq("b"), "ord", 2)
      .as[(String, String, String)].collect().sorted.toSeq
    assert(got == Seq(("x", "k1", "pa"), ("x", "k2", "pb"),
      ("y", "k1", "pq"), ("y", "k9", "pz")), got.toString)
  }

  test("dotted column names are columns, not struct paths") {
    val df = Seq((1L, 3L, "c"), (1L, 1L, "a"), (1L, 2L, "b"), (2L, 9L, "z"))
      .toDF("b.k", "o.rd", "p.x").repartition(2)
    val got = operators.Dedup.capBuckets(df, Seq("b.k"), "o.rd", 2)
    assert(got.columns.toSeq == df.columns.toSeq)
    assert(got.as[(Long, Long, String)].collect().sorted.toSeq ==
      Seq((1L, 1L, "a"), (1L, 2L, "b"), (2L, 9L, "z")))
  }

  test("maxBucket <= 0 disables the cap") {
    val df = Seq((1L, 2L)).toDF("b", "m")
    assert(operators.Dedup.capBuckets(df, Seq("b"), "m", 0) eq df)
  }
}

/** iterateMonotoneCore's (count, Σ value as DECIMAL(38,0)) convergence
  * proof is exact only for integral/decimal value columns. A
  * fractional-weight sssp can improve a distance without moving the
  * per-value-rounded sum (2.9 → 2.6 both round to 3), so the unguarded
  * loop declared convergence one round early and returned a WRONG
  * distance downstream of the hidden improvement. The r17 guard routes
  * fractional value types to the changed-join loop. */
class MonotoneGuardSpec extends SparkSpec {
  import spark.implicits._

  test("fractional-weight sssp converges to true distances (the rounding trap)") {
    // crafted so rounds 3 and 4 tie on (count, rounded sum) while a
    // round-5 relaxation (1 -> 5) is still pending: the old loop
    // returned dist(5)=4.0, the true value is 0.3+0.3+0.3+2.9+0.1
    val edges = Seq(
      (0L, 1L, 3.9), (0L, 2L, 0.3), (2L, 3L, 0.3), (3L, 4L, 0.3),
      (4L, 1L, 2.9), (1L, 5L, 0.1)).toDF("src", "dst", "w")
    val seeds = Seq(0L).toDF("node")
    val dist = graph.GraphOps.ssspCertified(edges, seeds)
      .as[(Long, Double)].collect().toMap
    assert(dist(1L) == 0.3 + 0.3 + 0.3 + 2.9, dist.toString)
    assert(dist(5L) == 0.3 + 0.3 + 0.3 + 2.9 + 0.1, dist.toString)
    assert(dist(5L) < 3.95, s"early-convergence bug: dist(5)=${dist(5L)}")
  }

  test("integral-weight sssp still exact (the metric-proof path)") {
    val edges = Seq((0L, 1L, 5L), (0L, 2L, 1L), (2L, 1L, 1L))
      .toDF("src", "dst", "w")
    val dist = graph.GraphOps.ssspCertified(edges, Seq(0L).toDF("node"))
      .as[(Long, Long)].collect().toMap
    assert(dist == Map(0L -> 0L, 1L -> 2L, 2L -> 1L), dist.toString)
  }
}

/** The fused stats+constraint commit pass (one commit-sized scan
  * computing per-file min/max AND constraint violation counts) must be
  * observationally identical to the two-pass path: same manifest stat
  * lines, same abort with the table unchanged. */
class FusedCommitGateSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot() =
    java.nio.file.Files.createTempDirectory("fusedgate").toString + "/t"

  test("constrained + stats-col commit: stats land, violation aborts unchanged") {
    val root = freshRoot()
    sources.VersionedTable.commit(
      Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), root,
      statsCols = Seq("k", "v"))
    sources.VersionedTable.addConstraint(spark, root, "v_pos", "v > 0")
    // fused path: append with stats cols inherited and constraint live
    sources.VersionedTable.commit(
      Seq((3L, 30L), (4L, 40L)).toDF("k", "v"), root, mode = "append")
    val fs = sources.VersionedTable.fileStats(spark, root)
    assert(fs.stats.nonEmpty)
    // every committed file carries [min,max] for both stat columns
    assert(fs.stats.values.forall(m =>
      m.contains("k") && m.contains("v")), fs.stats.toString)
    val before = sources.VersionedTable.read(spark, root)
      .as[(Long, Long)].collect().sorted.toSeq
    val ex = intercept[IllegalArgumentException] {
      sources.VersionedTable.commit(
        Seq((5L, -1L)).toDF("k", "v"), root, mode = "append")
    }
    assert(ex.getMessage.contains("v_pos") &&
      ex.getMessage.contains("1 of 1 rows"), ex.getMessage)
    val after = sources.VersionedTable.read(spark, root)
      .as[(Long, Long)].collect().sorted.toSeq
    assert(after == before, "violating commit must leave the table unchanged")
    assert(after == Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L)))
  }

  test("zero-row append to a constrained table commits one version, stages nothing") {
    val root = freshRoot()
    val vt = sources.VersionedTable
    vt.commit(Seq((1L, 10L)).toDF("k", "v"), root)
    vt.addConstraint(spark, root, "v_pos", "v > 0")
    def dataDirs() = new java.io.File(root, "data").listFiles
      .filter(_.isDirectory).map(_.getName).toSet
    val v0 = vt.currentVersion(spark, root)
    // the constraint sums over zero rows are null, not 0
    val v1 = vt.commit(Seq.empty[(Long, Long)].toDF("k", "v"), root, mode = "append")
    assert(v1 == v0 + 1 && vt.currentVersion(spark, root) == v1)
    assert(vt.read(spark, root).as[(Long, Long)].collect().toSeq == Seq((1L, 10L)))
    // every data directory on disk backs a file of the current version
    val live = vt.snapshot(spark, root).files
      .map(f => new org.apache.hadoop.fs.Path(f).getParent.getName).toSet
    assert(dataDirs() == live, s"on disk ${dataDirs()}, live $live")
    // a write-path abort drops its staged directory
    intercept[IllegalArgumentException] {
      vt.commit(Seq((2L, -1L)).toDF("k", "v"), root, mode = "append")
    }
    assert(dataDirs() == live && vt.currentVersion(spark, root) == v1)
  }

  test("zero-row SQL INSERT into a CHECK-constrained catalog table bumps the version") {
    SparkEntry.configure(spark)
    spark.sql("DROP TABLE IF EXISTS graft.zr")
    spark.sql("CREATE TABLE graft.zr AS SELECT CAST(1 AS BIGINT) AS k, CAST(10 AS BIGINT) AS v")
    spark.sql("ALTER TABLE graft.zr ADD CONSTRAINT v_pos CHECK (v > 0)")
    def cur(): Long = spark.sql(
      "SELECT max(version) FROM vt_history('zr')").head().getLong(0)
    val v0 = cur()
    spark.sql("INSERT INTO graft.zr SELECT k, v FROM graft.zr WHERE k < 0")
    assert(cur() == v0 + 1)
    assert(spark.sql("SELECT count(*) FROM graft.zr").head().getLong(0) == 1L)
    spark.sql("DROP TABLE IF EXISTS graft.zr")
  }
}
