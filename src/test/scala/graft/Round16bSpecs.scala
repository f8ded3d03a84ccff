package graft

// Round-16 continuation (optimization round 1/2, second window):
// focused gates for the two internals the window changed — honest
// checkpoint statistics and the DV paths' observe-metric fold.

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.CheckpointStats

/** Honest checkpoint statistics: a [[Ckpt.cut]] leaf whose schema is
  * all fixed-width must carry EXACT statistics — row count (ridden on
  * the materialization as an observe metric) × exact UnsafeRow width —
  * instead of the block manager's java-object-inflated memSize
  * (measured ~9× on 2-long rows, which pushed genuinely-small
  * per-round graph states over the broadcast threshold and forced
  * 2-exchange sort-merge joins in every iterative round). Var-width
  * schemas must KEEP the measured-size path: count × a guessed string
  * width could underestimate, and a spurious broadcast of a big frame
  * is an OOM at scale while an inflated size only costs a shuffle.
  */
class CheckpointStatsSpec extends SparkSpec {
  import org.apache.spark.sql.classic.Dataset

  private def statsOf(df: org.apache.spark.sql.DataFrame) =
    df.asInstanceOf[Dataset[org.apache.spark.sql.Row]]
      .queryExecution.optimizedPlan.stats

  test("fixed-width cut leaf: sizeInBytes = rows x exact UnsafeRow width") {
    val n = 1000L
    val cut = Ckpt.cut(spark.range(n).select(col("id").as("node"),
      (col("id") % 7).as("lbl")))
    val st = statsOf(cut)
    // 2 long columns: one 8-byte null bitset word + 2 x 8-byte fields
    assert(st.sizeInBytes == BigInt(n) * 24,
      s"expected ${n * 24}, got ${st.sizeInBytes}")
    assert(st.rowCount.contains(BigInt(n)), st.rowCount.toString)
    Ckpt.release(cut)
  }

  test("a 65-column fixed-width row pays a second null bitset word") {
    val cols = (0 until 65).map(i => (col("id") + i).as(s"c$i"))
    val cut = Ckpt.cut(spark.range(10).select(cols: _*))
    // ceil(65/64) = 2 bitset words + 65 fields, all 8 bytes
    assert(statsOf(cut).sizeInBytes == BigInt(10) * (2 * 8 + 65 * 8),
      statsOf(cut).sizeInBytes.toString)
    Ckpt.release(cut)
  }

  test("var-width schema keeps the measured (never underestimating) size") {
    val n = 200L
    val payload = "x" * 500
    val cut = Ckpt.cut(spark.range(n)
      .select(col("id"), lit(payload).as("body")))
    val st = statsOf(cut)
    // the fixed-width formula would claim 24 bytes/row; the real rows
    // carry a 500-char string each — the honest-small path must NOT
    // have fired (no underestimate), and the count still rides along
    assert(st.sizeInBytes > BigInt(n) * 500,
      s"var-width frame reported ${st.sizeInBytes} for ~${n * 500}+ real bytes")
    assert(st.rowCount.contains(BigInt(n)), st.rowCount.toString)
    Ckpt.release(cut)
  }

  test("a genuinely small fixed-width leaf broadcasts in its next join") {
    val cut = Ckpt.cut(spark.range(5000).select(col("id").as("node"),
      (col("id") % 3).as("lbl")))
    val joined = cut.as("a").join(cut.as("b"),
      col("a.lbl") === col("b.node"), "left")
    val plan = joined.queryExecution.sparkPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
    Ckpt.release(cut)
  }

  // Ckpt.cutWith reads its metrics synchronously from the observed
  // frame's queryExecution after the eager checkpoint: the row must be
  // there under AQE on and off, on the local and the reliable path,
  // for empty and non-empty inputs, with a null (empty) sum read as 0.
  for (aqe <- Seq(true, false); reliable <- Seq(false, true))
    test(s"cutWith metrics row (aqe=$aqe, reliable=$reliable): exact count, empty sum 0") {
      val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", aqe.toString)
      if (reliable) spark.conf.set("spark.graft.checkpointDir",
        java.nio.file.Files.createTempDirectory("cutwith").toString)
      try for (n <- Seq(0L, 50L)) {
        val groups = math.min(n, 7L)
        // a shuffle, so AQE has stages to re-plan
        val (cut, m) = Ckpt.cutWith(spark.range(n)
          .groupBy((col("id") % 7).as("g")).agg(sum("id").as("s")),
          sum(col("s")))
        assert(m.length == 2, m.toString)
        assert(m.getLong(0) == groups, s"n=$n: $m")
        assert(m.getLong(1) == n * (n - 1) / 2, s"n=$n: $m")
        assert(statsOf(cut).rowCount.contains(BigInt(groups)), s"n=$n")
        assert(CheckpointStats.checkpointFileOf(cut).isDefined == reliable)
        assert(cut.count() == groups)
        Ckpt.release(cut)
      } finally {
        spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
        spark.conf.unset("spark.graft.checkpointDir")
      }
    }
}

/** The DV delete/update paths fold their isEmpty probe and the
  * touched-file distinct().collect() into observe metrics on the hits
  * materialization (count + collect_set). These gates pin the fold's
  * observable contract: a zero-hit statement commits nothing, and a
  * delete spanning several data files records every touched file's
  * dv line. */
class DvObserveFoldSpec extends SparkSpec {
  import graft.sources.VersionedTable

  test("zero-hit DELETE/UPDATE return the current version unchanged") {
    val root = java.nio.file.Files.createTempDirectory("dvobs").toString
    val df = spark.range(100).select(col("id").as("k"), (col("id") * 2).as("v"))
    val v1 = VersionedTable.commit(df, root, "overwrite")
    assert(VersionedTable.deleteWhereDv(spark, root, "k < 0") == v1)
    assert(VersionedTable.updateWhereDv(spark, root, "k < 0",
      Map("v" -> "v + 1")) == v1)
    assert(VersionedTable.read(spark, root).count() == 100)
  }

  test("a delete spanning several files records each touched file once") {
    val root = java.nio.file.Files.createTempDirectory("dvobs2").toString
    // 4 data files, the predicate hits rows in every one of them
    val df = spark.range(400).repartition(4)
      .select(col("id").as("k"), (col("id") % 10).as("v"))
    VersionedTable.commit(df, root, "overwrite")
    val v2 = VersionedTable.deleteWhereDv(spark, root, "v = 3")
    assert(VersionedTable.read(spark, root).count() == 360)
    assert(VersionedTable.read(spark, root)
      .filter(col("v") === 3).count() == 0)
    // every data file held a v=3 row, so every one carries a dv line
    val manifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/_manifests/v$v2.manifest")),
      java.nio.charset.StandardCharsets.UTF_8)
    val dvFiles = manifest.split("\n").filter(_.startsWith("!dv"))
      .map(_.split("\t")(1)).distinct
    assert(dvFiles.length == 4, dvFiles.mkString(", "))
  }
}
