package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{array, broadcast, coalesce, col, collect_list, collect_set, concat, count, element_at, explode, expr, input_file_name, lit, map_from_entries, pmod, posexplode, struct, sum, when, xxhash64}
import java.nio.charset.StandardCharsets

/** Versioned-manifest table layout — snapshot isolation for the batch
  * sinks, using the PUBLIC table-format concepts (a log of immutable
  * manifest files naming immutable data files; Iceberg/Delta papers
  * and docs describe the idea — no proprietary code or format here).
  *
  * Layout under the table root:
  * {{{
  *   <root>/data/c<version>-<nonce>/part-*.parquet   — immutable data files
  *   <root>/_manifests/v<version>.manifest            — file lines and/or @shard refs
  *   <root>/_manifests/shards/s<v>-<nonce>-<i>.shard  — immutable shard files
  * }}}
  *
  * Invariants that give concurrent-reader safety:
  *  - data files are NEVER mutated or overwritten: every commit writes
  *    into a fresh `data/c…` directory;
  *  - a manifest is NEVER mutated: it is written to a temp name and
  *    atomically renamed into place (Hadoop `rename` fails if the
  *    destination exists, which doubles as optimistic concurrency —
  *    a losing concurrent committer retries at the next version);
  *  - a reader PINS a manifest at open time ([[snapshot]]) and builds
  *    its DataFrame from that explicit file list — a later commit,
  *    overwrite, or [[compact]] writes new files + a new manifest and
  *    touches nothing the pinned reader references;
  *  - only [[vacuum]] deletes data files, and only those unreferenced
  *    by the CURRENT manifest — run it after in-flight readers of old
  *    snapshots have drained (the retention window is operational
  *    policy, same as any table format).
  *
  * At 100 TB the manifest is the scan plan: a reader opens ONE small
  * file instead of listing millions of objects (object-store LIST is
  * the classic metadata bottleneck), and time travel / audit are free
  * (read any retained `v<N>`).
  *
  * == Driver-memory scale contract ==
  * Driver memory across ALL operations is O(manifest) = O(live data
  * files) — and nothing more. The manifest body is a driver-side
  * string by design (that is what makes one metadata read the whole
  * scan plan); every `collect()` in [[merge]]/[[deleteWhere]]/
  * [[deleteWhereDv]]/[[commit]]'s stats pass gathers FILE NAMES (or
  * per-file stat rows) bounded by the touched-file count ≤ manifest
  * size — never row data. At 10⁷ live files × ~100 B/entry that is
  * ~1 GB of driver heap, the same bound every manifest-listing table
  * format pays before splitting its metadata layer; the ROW-level
  * work (key probes, rewrites, DV anti-joins) is distributed
  * throughout. Past that bound, [[shardManifest]] splits the metadata
  * layer itself into a two-level tree (root of `@shard` refs with
  * shard-level aggregate stats → immutable shard files): selective
  * reads, appends, DV deletes, restores, row counts, and history then
  * cost O(shards touched) — only a FULL-table scan still materializes
  * the complete file list, because that list IS the scan plan Spark
  * consumes.
  */
object VersionedTable {

  /** A pinned view of the table: `version` and the exact files it
    * references (absolute path strings). */
  final case class Snapshot(version: Long, files: Seq[String])

  /** Per-file column stats from the manifest: absolute path →
    * (col → (min, max) as the committed string rendering); files
    * committed before stats tracking simply have no entry. */
  final case class FileStats(version: Long,
                             stats: Map[String, Map[String, (String, String)]])

  private def fs(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestDir(root: String) = new Path(root, "_manifests")

  private val ManifestName = "v(\\d+)\\.manifest".r

  /** Latest committed version, or 0 when the table does not exist. */
  def currentVersion(spark: SparkSession, root: String): Long = {
    val f = fs(spark, root)
    val dir = manifestDir(root)
    if (!f.exists(dir)) 0L
    else f.listStatus(dir).flatMap(s => s.getPath.getName match {
      case ManifestName(v) => Some(v.toLong)
      case _ => None
    }).foldLeft(0L)(math.max)
  }

  private def manifestBody(spark: SparkSession, root: String, version: Long): String = {
    val f = fs(spark, root)
    val in = f.open(new Path(manifestDir(root), s"v$version.manifest"))
    try {
      val out = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, out, 65536, false)
      new String(out.toByteArray, StandardCharsets.UTF_8)
    } finally in.close()
  }

  /** A shard-reference line in a manifest root:
    * `@shard\t<rel>\t<nFiles>\t<statsJson>` — `rel` names an immutable
    * shard file (under `_manifests/shards/`) holding plain file lines,
    * `nFiles` its line count, and `statsJson` the shard-level
    * AGGREGATE stats (per-column [min,max] over the member files'
    * recorded stats — only for columns EVERY member has stats for,
    * so shard-level pruning is exactly as conservative as file-level
    * — plus `"#rows"` when every member records it). The two-level
    * manifest: a selective read prunes on these aggregates and opens
    * only the surviving shards, so metadata I/O is O(shards touched),
    * not O(files); an append carries these lines VERBATIM, so commit
    * metadata cost is O(shards + new files), not O(files). */
  final case class ShardRef(rel: String, nFiles: Int,
                            stats: Map[String, (String, String)],
                            rows: Option[Long])

  private val ShardPrefix = "@shard\t"

  private def shardsDir(root: String) = new Path(manifestDir(root), "shards")

  private def readSmallFile(f: FileSystem, p: Path): String = {
    val in = f.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, out, 65536, false)
      new String(out.toByteArray, StandardCharsets.UTF_8)
    } finally in.close()
  }

  /** Raw `@shard` lines of a manifest root (verbatim). */
  private def rawShardLines(spark: SparkSession, root: String, version: Long): Seq[String] =
    manifestBody(spark, root, version).split("\n")
      .filter(_.startsWith(ShardPrefix)).toSeq

  /** Parse a stats JSON blob into (col → (min, max), recorded row
    * count) — shared by file-level and shard-level stats readers. */
  private def parseStats(om: com.fasterxml.jackson.databind.ObjectMapper,
                         json: String): (Map[String, (String, String)], Option[Long]) = {
    val node = om.readTree(json)
    val cols = scala.collection.mutable.Map.empty[String, (String, String)]
    var rows: Option[Long] = None
    val it = node.properties().iterator()
    while (it.hasNext) {
      val e = it.next()
      val arr = e.getValue
      if (e.getKey == "#rows" && arr.isNumber) rows = Some(arr.asLong())
      else if (arr.isArray && arr.size() == 2 && !arr.get(0).isNull && !arr.get(1).isNull)
        cols += e.getKey -> (arr.get(0).asText(), arr.get(1).asText())
    }
    (cols.toMap, rows)
  }

  /** Recorded byte size of a file line (`"#bytes"` in its stats
    * JSON), or None for lines committed before size tracking. */
  private def lineBytes(om: com.fasterxml.jackson.databind.ObjectMapper,
                        line: String): Option[Long] = {
    val cut = line.indexOf('\t')
    if (cut < 0) None
    else {
      val b = om.readTree(line.substring(cut + 1)).get("#bytes")
      if (b != null && b.isNumber) Some(b.asLong()) else None
    }
  }

  private def parseShardRef(om: com.fasterxml.jackson.databind.ObjectMapper,
                            line: String): ShardRef = {
    val p = line.split('\t')
    val (stats, rows) = parseStats(om, p(3))
    ShardRef(p(1), p(2).toInt, stats, rows)
  }

  /** Parsed shard references of a manifest root. */
  def shardRefs(spark: SparkSession, root: String, version: Long = -1L): Seq[ShardRef] = {
    val v = if (version > 0) version else currentVersion(spark, root)
    if (v <= 0) Seq.empty
    else {
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      rawShardLines(spark, root, v).map(parseShardRef(om, _))
    }
  }

  /** File lines recorded in one shard file. */
  private def shardFileLines(spark: SparkSession, root: String, rel: String): Seq[String] =
    readSmallFile(fs(spark, root), new Path(root, rel)).split("\n")
      .filter(_.nonEmpty).toSeq

  /** INLINE file lines of a manifest body (shard refs NOT expanded). */
  private def inlineFileLines(body: String): Seq[String] =
    body.split("\n").filter(l => l.nonEmpty && !l.startsWith("#") &&
      !l.startsWith("!") && !l.startsWith("@")).toSeq

  /** Raw file lines of a manifest: `relPath` or `relPath\tstatsJson`,
    * with `@shard` references EXPANDED in place (each ref replaced by
    * its shard file's lines, in root order). The line — stats
    * included — is what rewrite carries forward, so stats survive
    * every commit that doesn't rewrite the file. Deletion-vector
    * lines (`!dv\t…`) are NOT file lines — see [[rawDvLines]]. */
  private def fileLines(spark: SparkSession, root: String, version: Long): Seq[String] = {
    val body = manifestBody(spark, root, version)
    body.split("\n").toSeq.flatMap { l =>
      if (l.isEmpty || l.startsWith("#") || l.startsWith("!")) Seq.empty
      else if (l.startsWith(ShardPrefix))
        shardFileLines(spark, root, l.split('\t')(1))
      else Seq(l)
    }
  }

  /** Every non-meta line of a manifest VERBATIM (inline files, shard
    * refs, dv lines) — the carry list for commits that must not pay
    * O(files) metadata I/O on a sharded table (append, merge-on-read
    * delete, restore). Shard files are immutable, so a carried ref
    * stays valid in the new version. */
  private def rawCarryLines(spark: SparkSession, root: String, version: Long): Seq[String] =
    manifestBody(spark, root, version).split("\n")
      .filter(l => l.nonEmpty && !l.startsWith("#")).toSeq

  /** Total live-file count from the manifest ROOT alone: inline lines
    * counted directly, shard refs contribute their recorded `nFiles`
    * — no shard file is opened. */
  def fileCount(spark: SparkSession, root: String, version: Long = -1L): Int = {
    val v = if (version > 0) version else currentVersion(spark, root)
    require(v > 0, s"no committed version at $root")
    val body = manifestBody(spark, root, v)
    inlineFileLines(body).size +
      body.split("\n").filter(_.startsWith(ShardPrefix))
        .map(_.split('\t')(2).toInt).sum
  }

  /** Deletion-vector lines of a manifest: `!dv\t<dataRel>\t<dvRel>` —
    * data file `dataRel` has deleted-row positions recorded in dv
    * parquet `dvRel` (columns `file`, `pos`). One line per (data
    * file, dv file) pair, so a rewrite can carry/drop vectors
    * per data file. */
  private def rawDvLines(spark: SparkSession, root: String, version: Long): Seq[String] =
    manifestBody(spark, root, version).split("\n")
      .filter(_.startsWith("!dv\t")).toSeq

  /** (dataRel, dvRel) deletion-vector pairs of a snapshot. */
  def dvEntries(spark: SparkSession, root: String, version: Long = -1L): Seq[(String, String)] = {
    val v = if (version > 0) version else currentVersion(spark, root)
    if (v <= 0) Seq.empty
    else rawDvLines(spark, root, v).map { l =>
      val p = l.split('\t'); (p(1), p(2))
    }
  }

  private def lineRel(line: String): String = line.split('\t')(0)

  /** Anti-join `scanned` (a parquet scan of this table's data files)
    * against the snapshot's deletion vectors. Join key is the 3-part
    * relative path (`data/<commit>/<file>.parquet`, unique per table
    * thanks to the commit nonce) extracted from `input_file_name()`
    * — scheme-qualification-proof — plus the file-local
    * `_metadata.row_index`. No DVs → the scan passes through
    * untouched (zero read-path cost for tables that never delete). */
  private def applyDv(spark: SparkSession, root: String, version: Long,
                      scanned: DataFrame): DataFrame = {
    val dvs = dvEntries(spark, root, version)
    if (dvs.isEmpty) scanned
    else {
      val dvAbs = dvs.map(_._2).distinct.map(rel => new Path(root, rel).toString)
      val del = spark.read.parquet(dvAbs: _*)
        .select(col("file").as("__dvf"), col("pos").as("__dvp")).distinct()
      scanned
        .withColumn("__dvf", expr("substring_index(input_file_name(), '/', -3)"))
        .withColumn("__dvp", col("_metadata.row_index").cast("long"))
        .join(del, Seq("__dvf", "__dvp"), "left_anti")
        .drop("__dvf", "__dvp")
    }
  }

  /** Pin the given (or latest) version: read its manifest once and
    * return the immutable file list. Everything a reader does from
    * here on references exactly these files. */
  def snapshot(spark: SparkSession, root: String, version: Long = -1L): Snapshot = {
    val v = if (version > 0) version else currentVersion(spark, root)
    require(v > 0, s"no committed version at $root")
    Snapshot(v, fileLines(spark, root, v)
      .map(l => new Path(root, lineRel(l)).toString))
  }

  /** Per-file min/max stats recorded in the given (or latest)
    * manifest — the data-skipping index. One small manifest read; no
    * footer sweep (at 100 TB, per-file footer opens ARE the metadata
    * bottleneck the manifest exists to avoid). */
  def fileStats(spark: SparkSession, root: String, version: Long = -1L): FileStats = {
    val v = if (version > 0) version else currentVersion(spark, root)
    require(v > 0, s"no committed version at $root")
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val m = fileLines(spark, root, v).flatMap { l =>
      val cut = l.indexOf('\t')
      if (cut < 0) None
      else {
        val abs = new Path(root, l.substring(0, cut)).toString
        val cols = parseStats(om, l.substring(cut + 1))._1
        // a line with only bookkeeping fields (#bytes/#rows) has no
        // column stats — same visibility as a stat-less line
        if (cols.isEmpty) None else Some(abs -> cols)
      }
    }.toMap
    FileStats(v, m)
  }

  /** Metadata header (`#key=value` lines) of the given (or latest)
    * manifest — e.g. the streaming sink's `batch` id. */
  def manifestMeta(spark: SparkSession, root: String, version: Long = -1L): Map[String, String] = {
    val v = if (version > 0) version else currentVersion(spark, root)
    if (v <= 0) return Map.empty
    val body = manifestBody(spark, root, v)
    body.split("\n").filter(_.startsWith("#")).flatMap { l =>
      l.drop(1).split("=", 2) match {
        case Array(k, v2) => Some(k -> v2)
        case _ => None
      }
    }.toMap
  }

  /** Highest streaming batch id recorded in the current manifest, or
    * −1 when none — the streaming sink's idempotence watermark.
    *
    * Round 16: the watermark is keyed PER WRITER (`batch.<queryId>`
    * meta entries) so a fresh-checkpoint restart (new queryId, epochs
    * restarting at 0) or a second concurrent query appending to the
    * same table can never be silently muted by ANOTHER writer's
    * watermark — the r15 table-global `batch` key made exactly that a
    * latent data-loss path. The bare legacy `batch` key is consulted
    * only while a table carries NO keyed entry, so a pre-r16 streamed
    * table keeps its crash-replay protection across the upgrade; the
    * first keyed commit supersedes it for every writer.
    *
    * `queryId = null` reads the OBSERVATION watermark — the max over
    * every writer's entry and the bare key — what "has any epoch
    * landed yet" progress checks want. */
  def lastBatchId(spark: SparkSession, root: String,
                  queryId: String = null): Long = {
    val m = manifestMeta(spark, root)
    if (queryId == null) {
      val all = m.collect {
        case (k, v) if k == "batch" || k.startsWith("batch.") => v.toLong }
      if (all.isEmpty) -1L else all.max
    } else batchWatermark(m, queryId)
  }

  /** Per-writer watermark out of a manifest meta map — see
    * [[lastBatchId]] for the legacy-fallback rule. */
  private def batchWatermark(meta: Map[String, String], queryId: String): Long =
    meta.get(s"batch.$queryId").map(_.toLong).getOrElse {
      if (meta.keys.exists(_.startsWith("batch."))) -1L
      else meta.get("batch").map(_.toLong).getOrElse(-1L)
    }

  /** Table schema recorded in the given (or latest) manifest, or None
    * for manifests written before schema tracking. Schema lives in the
    * MANIFEST (one small read), not in file footers — at 100 TB a
    * `mergeSchema` footer sweep over millions of files is exactly the
    * metadata bottleneck the manifest exists to avoid. */
  def tableSchema(spark: SparkSession, root: String,
                  version: Long = -1L): Option[org.apache.spark.sql.types.StructType] =
    manifestMeta(spark, root, version).get("schema").map(j =>
      org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[org.apache.spark.sql.types.StructType])

  // ───────────────────── column mapping (round 12) ─────────────────────
  // LOGICAL → PHYSICAL column names, recorded per manifest as the
  // `colmap` meta key (absent / missing entry = identity). A column's
  // PHYSICAL name is fixed at its first commit and never changes;
  // RENAME moves only the logical mapping and DROP only removes the
  // schema field + mapping — both metadata-only commits, zero data
  // files rewritten. File stats, statscols, shard aggregates and
  // bloom sidecars are all keyed by PHYSICAL name, so data skipping
  // and standing indexes survive any number of renames; readers of an
  // old version see that ERA's names (its manifest's schema+colmap).

  /** Logical→physical column map of a version's era (empty =
    * identity — every pre-round-12 table reads this way). */
  def columnMapping(spark: SparkSession, root: String,
                    version: Long = -1L): Map[String, String] =
    manifestMeta(spark, root, version).get("colmap")
      .map(parseColmap).getOrElse(Map.empty)

  private def parseColmap(json: String): Map[String, String] = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = om.readTree(json)
    val it = node.fields()
    val b = Map.newBuilder[String, String]
    while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asText() }
    b.result()
  }

  private def colmapJson(cm: Map[String, String]): String =
    cm.toSeq.sortBy(_._1)
      .map { case (l, p) => s"${jesc(l)}:${jesc(p)}" }
      .mkString("{", ",", "}")

  // Round 13: colmap keys may be DOTTED LOGICAL PATHS into struct
  // fields (`props.lang`); the value is always the PHYSICAL LEAF name
  // of that field within its parent. A field's physical PATH is
  // resolved segment-by-segment (each prefix may itself be renamed),
  // so nested RENAME/DROP stay metadata-only and nested stats keys
  // (dotted PHYSICAL paths) survive any rename above or at the leaf.

  /** Physical leaf name of the field at logical path `c` (identity
    * when unmapped) — the original single-segment behavior falls out
    * as the path of depth 1. */
  private def physNameOf(cm: Map[String, String], c: String): String =
    cm.getOrElse(c, c.split('.').last)

  /** Full dotted PHYSICAL path of logical path `c`: every prefix
    * resolves through the map, so `props.lang` with `props` renamed
    * from `p0` and `lang` from `l0` yields `p0.l0`. */
  private def physPathOf(cm: Map[String, String], c: String): String = {
    if (cm.isEmpty) c
    else {
      val segs = c.split('.')
      segs.indices.map { i =>
        cm.getOrElse(segs.take(i + 1).mkString("."), segs(i))
      }.mkString(".")
    }
  }

  private def physStruct(cm: Map[String, String],
                         sc: org.apache.spark.sql.types.StructType,
                         lprefix: String = "")
      : org.apache.spark.sql.types.StructType =
    if (cm.isEmpty) sc
    else org.apache.spark.sql.types.StructType(
      sc.fields.map { f =>
        val lpath = if (lprefix.isEmpty) f.name else s"$lprefix.${f.name}"
        val dt = f.dataType match {
          case st: org.apache.spark.sql.types.StructType =>
            physStruct(cm, st, lpath)
          // round 14: array-of-struct ELEMENT fields map through the
          // `<path>.element.<field>` key convention (the public
          // Iceberg/Parquet element path)
          case at: org.apache.spark.sql.types.ArrayType =>
            at.elementType match {
              case st: org.apache.spark.sql.types.StructType =>
                at.copy(elementType = physStruct(cm, st, s"$lpath.element"))
              case _ => at
            }
          case other => other
        }
        f.copy(name = cm.getOrElse(lpath, f.name), dataType = dt)
      })

  /** Every field's dotted PHYSICAL path, all depths — the commit-time
    * collision domain (a new field may not land on any on-disk path a
    * live, renamed or dropped field owns). */
  private def allPhysPaths(cm: Map[String, String],
                           sc: org.apache.spark.sql.types.StructType,
                           pprefix: String = "", lprefix: String = "")
      : Seq[String] =
    sc.fields.toSeq.flatMap { f =>
      val lpath = if (lprefix.isEmpty) f.name else s"$lprefix.${f.name}"
      val pname = cm.getOrElse(lpath, f.name)
      val ppath = if (pprefix.isEmpty) pname else s"$pprefix.$pname"
      ppath +: (f.dataType match {
        case st: org.apache.spark.sql.types.StructType =>
          allPhysPaths(cm, st, ppath, lpath)
        case at: org.apache.spark.sql.types.ArrayType =>
          at.elementType match {
            case st: org.apache.spark.sql.types.StructType =>
              allPhysPaths(cm, st, s"$ppath.element", s"$lpath.element")
            case _ => Seq.empty[String]
          }
        case _ => Seq.empty[String]
      })
    }

  /** The PHYSICAL-named variant of a version's recorded schema — what
    * the era's parquet files actually store ([[physStruct]] over the
    * era's column mapping; physical names are FIXED at first commit,
    * so this schema addresses every file of every era). Public for
    * the streaming source, which reads files positionally under the
    * physical names and surfaces rows under the logical ones. */
  def physicalReadSchema(spark: SparkSession, root: String,
                         version: Long = -1L)
      : Option[org.apache.spark.sql.types.StructType] =
    tableSchema(spark, root, version).map(sc =>
      physStruct(columnMapping(spark, root, version), sc))

  /** The StructField at dotted path `path` (None when any segment is
    * missing or a non-struct blocks the descent). An EXACT top-level
    * name wins over path descent: a pre-nested-era table may carry a
    * column literally named `a.b` (commit() accepted any frame
    * column), and classifying it through the path walk would silently
    * flip its prune comparisons from numeric to string. Public: the
    * catalog validates dotted `clustering`/`statscols` table
    * properties with it. */
  def fieldAtPath(sc: org.apache.spark.sql.types.StructType,
                  path: String)
      : Option[org.apache.spark.sql.types.StructField] = {
    sc.fields.find(_.name == path) match {
      case hit @ Some(_) => return hit
      case None => ()
    }
    val segs = path.split('.')
    var cur: Option[org.apache.spark.sql.types.StructField] = None
    var st = sc
    var i = 0
    while (i < segs.length) {
      cur = st.fields.find(_.name == segs(i))
      if (i + 1 < segs.length) cur.map(_.dataType) match {
        case Some(s: org.apache.spark.sql.types.StructType) => st = s
        // `<arr>.element.<field>`: step through an array-of-struct's
        // element (round 14) — a pseudo-field named `element` carries
        // the element struct so the walk (and a path ENDING at
        // `.element`) stays uniform
        case Some(at: org.apache.spark.sql.types.ArrayType)
            if segs(i + 1) == "element" &&
              at.elementType.isInstanceOf[org.apache.spark.sql.types.StructType] =>
          val est = at.elementType.asInstanceOf[org.apache.spark.sql.types.StructType]
          i += 1
          cur = Some(org.apache.spark.sql.types.StructField("element", est))
          st = est
        case _ => return None
      }
      i += 1
    }
    cur
  }

  /** [[physPathOf]] with [[fieldAtPath]]'s exact-top-level-name-wins
    * rule: a column literally named `a.b` (a pre-nested-era commit
    * accepted any frame column name) resolves as ONE leaf — its
    * physical key is its own mapping or itself — never as a struct
    * descent. Mirrors the read side so DDL, stats keys and prune
    * probes can never mis-key a legacy dotted name. */
  private def physPathAt(cm: Map[String, String],
                         sc: org.apache.spark.sql.types.StructType,
                         c: String): String =
    if (c.contains('.') && sc.fields.exists(_.name == c)) cm.getOrElse(c, c)
    else physPathOf(cm, c)

  /** Split a DDL path into (parentSegs, leaf) under the SAME
    * exact-top-level-name-wins rule [[fieldAtPath]] applies on the
    * read side: a column literally named `a.b` is one top-level leaf,
    * never a struct descent — so RENAME/DROP on a legacy dotted name
    * operate on the column itself instead of failing with
    * "no field 'a'". */
  private def ddlSplit(sc: org.apache.spark.sql.types.StructType,
                       path: String): (Seq[String], String) =
    if (path.contains('.') && sc.fields.exists(_.name == path)) (Nil, path)
    else (path.split('.').toSeq.init, path.split('.').last)

  /** A Column reference that can never be MIS-PARSED as a struct
    * path: backtick-quoted, so a top-level name containing a literal
    * '.' (pre-nested-era commits accepted any frame column name)
    * resolves as itself. Used wherever the referenced name is KNOWN
    * to be a top-level field. */
  private def topCol(name: String): org.apache.spark.sql.Column =
    col(s"`$name`")

  /** Column reference for a user-supplied PATH under the read side's
    * exact-top-level-name-wins rule ([[fieldAtPath]]): an exact
    * top-level match is quoted (a literal-dot leaf), anything else
    * stays a dotted struct-path reference. */
  private def colRef(sc: org.apache.spark.sql.types.StructType,
                     name: String): org.apache.spark.sql.Column =
    if (name.contains('.') && sc.fields.exists(_.name == name)) topCol(name)
    else col(name)

  /** LOGICAL-named frame → PHYSICAL-named frame (the write-side
    * projection). Nested mappings ride a struct→struct CAST, which
    * renames inner fields positionally and preserves null structs;
    * unmapped subtrees keep the bare alias so nothing sits between
    * them and pushdown/codegen. */
  private def toPhysical(df: DataFrame, cm: Map[String, String]): DataFrame =
    if (cm.isEmpty) df
    else {
      val physSc = physStruct(cm, df.schema)
      df.select(df.schema.fields.zip(physSc.fields).map { case (lf, pf) =>
        if (pf.dataType == lf.dataType) topCol(lf.name).as(pf.name)
        else topCol(lf.name).cast(pf.dataType).as(pf.name)
      }.toSeq: _*)
    }

  /** Rewrite the struct at `parentSegs` (root when empty) through
    * `fn`; every segment on the way must name a struct field — or an
    * array-of-struct field followed by the `element` segment (round
    * 14). Maps and non-struct array elements are rejected precisely. */
  private def rewriteAt(sc: org.apache.spark.sql.types.StructType,
                        parentSegs: Seq[String], root: String, what: String)
      (fn: org.apache.spark.sql.types.StructType =>
           org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType =
    if (parentSegs.isEmpty) fn(sc)
    else {
      val seg = parentSegs.head
      val hit = sc.fields.find(_.name == seg).getOrElse(
        throw new IllegalArgumentException(
          s"$what: no field '$seg' at $root (have ${sc.fieldNames.mkString(", ")})"))
      val newDt: org.apache.spark.sql.types.DataType = hit.dataType match {
        case st: org.apache.spark.sql.types.StructType =>
          rewriteAt(st, parentSegs.tail, root, what)(fn)
        case at: org.apache.spark.sql.types.ArrayType
            if parentSegs.tail.headOption.contains("element") &&
              at.elementType.isInstanceOf[org.apache.spark.sql.types.StructType] =>
          at.copy(elementType = rewriteAt(
            at.elementType.asInstanceOf[org.apache.spark.sql.types.StructType],
            parentSegs.drop(2), root, what)(fn))
        case other => throw new IllegalArgumentException(
          s"$what: '$seg' is not a struct (is ${other.simpleString}) at $root — " +
            "column paths may only traverse struct fields, or an " +
            "array<struct> via '.element.' (maps and non-struct array " +
            "elements are not addressable)")
      }
      org.apache.spark.sql.types.StructType(sc.fields.map(f =>
        if (f.name == seg) f.copy(dataType = newDt) else f))
    }

  /** Open `files` with `version`'s PHYSICAL schema and return LOGICAL
    * column names. `scanStage` runs on the raw scan — the place to
    * capture `input_file_name()` / `_metadata.row_index` and to apply
    * deletion vectors, both of which need live scan context; columns
    * it adds survive the logical aliasing. */
  private def scanLogical(spark: SparkSession, root: String, version: Long,
                          files: Seq[String],
                          scanStage: DataFrame => DataFrame = identity)
      : DataFrame = {
    val sc = tableSchema(spark, root, version)
    val cm = columnMapping(spark, root, version)
    val raw = sc match {
      case Some(s0) => spark.read.schema(physStruct(cm, s0)).parquet(files: _*)
      case None => spark.read.parquet(files: _*)
    }
    val staged = scanStage(raw)
    if (cm.isEmpty) staged
    else {
      val physSc = physStruct(cm, sc.get)
      val physCols = physSc.fieldNames.toSet
      val extra = staged.columns.filterNot(physCols.contains)
      // nested renames: CAST struct→struct renames fields positionally
      // AND preserves null structs (rebuilding via struct(children)
      // would turn a NULL parent into a struct of nulls); fields whose
      // subtree is unmapped keep the plain alias — no cast in the way
      // of pushdown or codegen. The cast target is nullability-RELAXED:
      // a parquet scan serves every leaf nullable, and casting nullable
      // → NOT NULL is (rightly) rejected by the analyzer.
      staged.select(sc.get.fields.zip(physSc.fields).map { case (lf, pf) =>
        if (pf.dataType == lf.dataType) topCol(pf.name).as(lf.name)
        else topCol(pf.name).cast(relaxNullability(lf.dataType)).as(lf.name)
      }.toSeq ++ extra.map(col): _*)
    }
  }

  /** DataFrame over a pinned snapshot (latest by default). The plan's
    * scan is built from the explicit file list, so concurrent commits
    * and compactions cannot change — or break — what this reader sees.
    * When the manifest records a schema, the scan uses it — files
    * written before a column was added simply yield NULL for it (the
    * add-column backfill semantics); reads of old manifests use the
    * schema THEY recorded, so time travel sees the schema of its era. */
  def read(spark: SparkSession, root: String, version: Long = -1L): DataFrame = {
    val s = snapshot(spark, root, version)
    // merge-on-read: subtract this era's deletion vectors (no-op —
    // and no plan change — when the manifest records none); physical
    // file columns come back under this era's LOGICAL names
    scanLogical(spark, root, s.version, s.files,
      raw => applyDv(spark, root, s.version, raw))
  }

  /** Stats order must mirror the order the stats were COMPUTED in —
    * the column's own type order, decided from the manifest schema:
    * numeric columns compare as numbers, everything else as strings
    * (which for ISO timestamps/dates IS value order). Deciding by
    * "does it parse as a number" instead would mis-prune a
    * numeric-LOOKING string column: its recorded min/max follow
    * string order ("10" < "9") while the probe would compare
    * numerically, skipping files that DO contain matching rows. */
  private def statLeq(numeric: Boolean)(a: String, b: String): Boolean =
    if (numeric) BigDecimal(a).compare(BigDecimal(b)) <= 0
    else a.compareTo(b) <= 0

  /** What a shard-aware prune touched: the kept files, the snapshot's
    * total file count, and — the two-level metadata win — how many
    * manifest shards the prune OPENED out of the total (a shard whose
    * aggregate [min, max] cannot intersect the range is skipped whole,
    * its file lines never read). On an unsharded table
    * `shardsTotal = shardsOpened = 0`. */
  final case class PruneDetail(kept: Seq[String], totalFiles: Int,
                               shardsTotal: Int, shardsOpened: Int)

  /** Shard-aware data-skipping prune: walks the manifest ROOT; inline
    * file lines get the file-level [min, max] check, and each `@shard`
    * ref is first checked against its SHARD-LEVEL aggregate — only
    * shards whose aggregate admits the range are opened and
    * file-checked. Metadata I/O is root + surviving shards; a
    * selective range on a clustered table opens a handful of shards
    * out of thousands. Missing/unparsable stats (file or shard) are
    * conservatively kept/opened. */
  def prunedFilesDetail(spark: SparkSession, root: String, colName: String,
                        lo: String, hi: String, version: Long = -1L): PruneDetail =
    prunedFilesDetail(spark, root, Seq((colName, lo, hi)), version)

  /** COMPOUND-predicate prune: the conjunction of `(col, lo, hi)`
    * ranges, evaluated shard-level first, then file-level. A file (or
    * shard) is skipped when ANY conjunct's recorded [min, max] is
    * provably disjoint from its range — exactly what a real selective
    * scan looks like (partition date AND key range): each extra
    * conjunct can only shrink what's opened, never grow it. Per-column
    * stats already sit in the manifest; this walks the root once and
    * opens only shards every conjunct admits. Missing/unparsable stats
    * for a column keep the file / open the shard (conservative, same
    * contract as the single-column prune). */
  def prunedFilesDetail(spark: SparkSession, root: String,
                        ranges: Seq[(String, String, String)],
                        version: Long): PruneDetail = {
    require(ranges.nonEmpty, "prunedFilesDetail: no ranges")
    val v = if (version > 0) version else currentVersion(spark, root)
    require(v > 0, s"no committed version at $root")
    val schema = tableSchema(spark, root, v)
    val numericOf: Map[String, Boolean] = ranges.map { case (c, _, _) =>
      c -> schema.flatMap(fieldAtPath(_, c))
        .exists(_.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
    }.toMap
    // stats are keyed by PHYSICAL name (stable across renames), so a
    // probe on a renamed column keeps pruning every era's files
    val cmPrune = columnMapping(spark, root, v)
    // [min, max] admits the range unless provably disjoint; unparsable
    // recorded stats (a float column's max() propagates NaN/Infinity,
    // which BigDecimal rejects) are treated like MISSING stats: keep
    // the file / open the shard rather than crash the read
    def admits1(col: String, lo: String, hi: String,
                st: Option[(String, String)]): Boolean = st match {
      case Some((mn, mx)) =>
        val leq = statLeq(numericOf(col)) _
        scala.util.Try(leq(lo, mx) && leq(mn, hi)).getOrElse(true)
      case None => true
    }
    // the probe key honors exact-top-level-name-wins: a legacy column
    // literally named `a.b` probes its own stats key, not a per-segment
    // walk that would mis-key it whenever a rename shares its first
    // segment (conservative either way — this only restores pruning)
    val physKeyOf: Map[String, String] = ranges.map { case (c, _, _) =>
      c -> schema.map(physPathAt(cmPrune, _, c)).getOrElse(physPathOf(cmPrune, c))
    }.toMap
    def admitsAll(stats: Map[String, (String, String)]): Boolean =
      ranges.forall { case (c, lo, hi) =>
        admits1(c, lo, hi, stats.get(physKeyOf(c))) }
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    def keepLine(l: String): Option[String] = {
      val cut = l.indexOf('\t')
      val ok = cut < 0 || admitsAll(parseStats(om, l.substring(cut + 1))._1)
      if (ok) Some(new Path(root, lineRel(l)).toString) else None
    }
    var totalFiles = 0; var shardsTotal = 0; var shardsOpened = 0
    val kept = Seq.newBuilder[String]
    manifestBody(spark, root, v).split("\n").foreach { l =>
      if (l.nonEmpty && !l.startsWith("#") && !l.startsWith("!")) {
        if (l.startsWith(ShardPrefix)) {
          val ref = parseShardRef(om, l)
          shardsTotal += 1; totalFiles += ref.nFiles
          if (admitsAll(ref.stats)) {
            shardsOpened += 1
            shardFileLines(spark, root, ref.rel).foreach(sl => kept ++= keepLine(sl))
          }
        } else {
          totalFiles += 1
          kept ++= keepLine(l)
        }
      }
    }
    PruneDetail(kept.result(), totalFiles, shardsTotal, shardsOpened)
  }

  /** The files of a snapshot a `colName IN [lo, hi]` scan must touch,
    * plus the snapshot total: a file is SKIPPED iff its recorded
    * [min, max] cannot intersect the range; files without stats for
    * the column (pre-stats commits, all-null files) are conservatively
    * kept. On a sharded manifest the prune opens only the shards whose
    * aggregates admit the range ([[prunedFilesDetail]]). */
  def prunedFiles(spark: SparkSession, root: String, colName: String,
                  lo: String, hi: String, version: Long = -1L): (Seq[String], Int) = {
    val d = prunedFilesDetail(spark, root, colName, lo, hi, version)
    (d.kept, d.totalFiles)
  }

  /** Data-skipping range read: [[read]] semantics, but the scan is
    * built from [[prunedFiles]] — at 100 TB a selective predicate on
    * a range-clustered stats column touches the few files whose
    * min/max admit it instead of every live file. The row-level
    * filter still applies (stats prune files, not rows). */
  def readRange(spark: SparkSession, root: String, colName: String,
                lo: String, hi: String, version: Long = -1L): DataFrame =
    readRange(spark, root, Seq((colName, lo, hi)), version)

  /** Compound readRange: conjunction of `(col, lo, hi)` ranges. File
    * set from the compound prune (shard-level then file-level); row
    * filter ANDs every conjunct in the column's own type. */
  def readRange(spark: SparkSession, root: String,
                ranges: Seq[(String, String, String)],
                version: Long): DataFrame = {
    // resolve version=-1 ONCE and pin it for both the prune and the
    // schema lookup — a commit landing between two independent
    // resolutions would mix version-N kept files with version-N+1 schema
    val s = snapshot(spark, root, version)
    val kept = prunedFilesDetail(spark, root, ranges, s.version).kept
    val base = tableSchema(spark, root, s.version) match {
      case Some(_) if kept.nonEmpty =>
        scanLogical(spark, root, s.version, kept,
          raw => applyDv(spark, root, s.version, raw))
      case None if kept.nonEmpty =>
        applyDv(spark, root, s.version, spark.read.parquet(kept: _*))
      case Some(sc) => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sc)
      case None => return read(spark, root, version).limit(0)
    }
    // row filter in each COLUMN's type (string compare would order
    // "10" < "9"); lit(lo).cast(dt) is identity for string columns
    ranges.foldLeft(base) { case (df, (c, lo, hi)) =>
      val dt = fieldAtPath(base.schema, c)
        .getOrElse(throw new IllegalArgumentException(
          s"readRange: no column path '$c' at $root")).dataType
      df.filter(
        colRef(base.schema, c)
          .geq(org.apache.spark.sql.functions.lit(lo).cast(dt)) &&
        colRef(base.schema, c)
          .leq(org.apache.spark.sql.functions.lit(hi).cast(dt)))
    }
  }

  // ─────────────────────── bloom sidecar index ───────────────────────

  private def bloomDir(root: String, colName: String): Path =
    new Path(root, s"_index/bloom_$colName")

  /** `file`-column prefix marking a SHARD-aggregate bloom entry (the
    * bit-OR of every member file's bitset). '@' can never start a real
    * data rel ("data/…"), so old probes that key rows by 3-part file
    * name simply never look these up. */
  private val BloomShardMark = "@shardagg\t"

  /** member file rel (3-part) → owning shard rel, from the manifest
    * root. Metadata-sized: one root read + one read per shard file. */
  private def shardOfRel(spark: SparkSession, root: String,
                         version: Long): Map[String, String] = {
    val out = Map.newBuilder[String, String]
    manifestBody(spark, root, version).split("\n").foreach { l =>
      if (l.startsWith(ShardPrefix)) {
        val rel = l.split('\t')(1)
        shardFileLines(spark, root, rel).foreach(m => out += lineRel(m) -> rel)
      }
    }
    out.result()
  }

  /** Attach each per-file entry's owning shard (null for inline
    * files). The probe uses this to skip members of provably-dead
    * shards without touching their rows. */
  private def tagShards(spark: SparkSession, fileEntries: DataFrame,
                        shardOf: Map[String, String]): DataFrame = {
    val sp = spark; import sp.implicits._
    if (shardOf.isEmpty)
      fileEntries.withColumn("shard", lit(null).cast("string"))
    else fileEntries.join(
      broadcast(shardOf.toSeq.toDF("file", "shard")), Seq("file"), "left")
  }

  /** SHARD-level bloom entries, built from the VALUES (one row per
    * shard, `file = "@shardagg\t<rel>"`). Each shard's filter is sized
    * to ITS cardinality — `m_shard = m · members` (rounded to 64) —
    * because an OR of member bitsets at the per-file `m` saturates:
    * 16 files × 2k keys × 7 hashes ≈ 224k positions into 65536 bits
    * is ~97% full, and every probe would open every shard (measured
    * at the 500k-row sweep). Value-hashed at m_shard the shard-level
    * false-positive rate matches the file level. Shards whose every
    * member is all-null get an exact all-zero entry so incremental
    * coverage converges. No false negatives by construction either
    * way. `rows` must carry (file, __v non-null) for EVERY member
    * file of every shard in `shardOf`. */
  private def shardAggregates(spark: SparkSession, rows: DataFrame,
                              shardOf: Map[String, String],
                              m: Int, k: Int): DataFrame = {
    val sp = spark; import sp.implicits._
    // m_shard = m·members, CAPPED at 2²⁶ bits (8 MiB of longs per
    // shard row): a 4096-file shard would otherwise mint a 33 MB
    // array and a multi-million-entry per-group collect. At the cap a
    // saturated worst case still cuts most irrelevant shards (fill
    // ~55% at 8M keys ⇒ per-shard fp ~1.5%), and false positives only
    // cost opening that shard's file entries — never correctness.
    val shardDims = shardOf.groupBy(_._2).map { case (sh, xs) =>
      (sh, (((math.min(m.toLong * xs.size, 1L << 26) + 63) / 64) * 64).toInt)
    }.toSeq.toDF("shard", "ms")
    if (shardOf.isEmpty) return shardDims.limit(0)
      .select(col("shard").as("file"),
        expr("CAST(array() AS ARRAY<BIGINT>)").as("words"),
        lit(0L).as("n_rows"), lit(m).as("m"), lit(k).as("k"), col("shard"))
    val members = shardOf.toSeq.toDF("file", "shard")
    val sv = rows.join(broadcast(members), Seq("file"))
      .join(broadcast(shardDims), Seq("shard"))
    val posCols = (0 until k).map(i =>
      pmod(xxhash64(col("__v"), lit(i)), col("ms").cast("long")).cast("int"))
    val words = sv
      .select(col("shard"), col("ms"), explode(array(posCols: _*)).as("p"))
      .withColumn("widx", (col("p") / 64).cast("int"))
      .groupBy("shard", "ms", "widx")
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), pmod(p, 64)))").as("word"))
    val dense = words
      .groupBy("shard", "ms")
      .agg(map_from_entries(collect_list(struct(col("widx"), col("word")))).as("wm"))
      .select(col("shard"), col("ms"),
        expr("transform(sequence(0, ms div 64 - 1), i -> coalesce(wm[CAST(i AS INT)], CAST(0 AS BIGINT)))")
          .as("words"))
    val counts = sv.groupBy("shard").agg(count(lit(1)).as("n_rows"))
    val built = dense.join(counts, Seq("shard"))
    // all-null shards: exact zero entries (coverage must converge)
    val missing = shardDims
      .join(built.select("shard"), Seq("shard"), "left_anti")
      .select(col("shard"), col("ms"),
        expr("transform(sequence(0, ms div 64 - 1), i -> CAST(0 AS BIGINT))").as("words"))
      .withColumn("n_rows", lit(0L))
    built.unionByName(missing)
      .select(concat(lit(BloomShardMark), col("shard")).as("file"),
        col("words"), col("n_rows"),
        col("ms").as("m"), lit(k).as("k"), col("shard"))
  }

  /** Per-file BLOOM membership sidecar for `colName` — the
    * point-lookup complement of min/max stats: a selective
    * `col = value` on a HIGH-CARDINALITY, NON-CLUSTERED column (url
    * hash, join key in a table clustered by something else) is
    * exactly the predicate [min, max] cannot prune, because every
    * file's range spans the domain. One pass over the snapshot
    * computes `numHashes` bit positions per value
    * (`pmod(xxhash64(CAST(col AS STRING), seed), bitsPerFile)` — the
    * engine's own hash expression, so query-time probes are computed
    * by the SAME expression and can never disagree), OR-folds them
    * into a dense per-file bitset (bitsPerFile/64 longs ≈ 8 KiB at
    * the default), and writes `_index/bloom_<col>/v<version>`. Data
    * files are immutable, so entries stay valid forever; files
    * committed after the build have no entry and are conservatively
    * KEPT by [[readEq]] — rebuild to re-cover. Sizing: ~1% false
    * positives at ≈ bitsPerFile/10 keys per file with numHashes = 7
    * (the classic m/n ≈ 9.6 point). No false negatives by
    * construction — [[readEq]] stays exact. Returns the indexed
    * version. */
  def buildBloomIndex(spark: SparkSession, root: String, colName: String,
                      bitsPerFile: Int = 1 << 16, numHashes: Int = 7,
                      version: Long = -1L): Long = {
    require(bitsPerFile % 64 == 0 && bitsPerFile > 0, s"bitsPerFile: $bitsPerFile")
    val s = snapshot(spark, root, version)
    // sidecar dir AND value reads keyed by PHYSICAL name — a later
    // rename keeps the whole standing index valid
    val physCol = locally { // exact-top-level-name-wins, like the prune
      val cm0 = columnMapping(spark, root, s.version)
      tableSchema(spark, root, s.version).map(physPathAt(cm0, _, colName))
        .getOrElse(physPathOf(cm0, colName))
    }
    val rels = fileLines(spark, root, s.version).map(lineRel)
    val files = rels.map(r => new Path(root, r).toString)
    require(files.nonEmpty, s"nothing to index at $root v${s.version}")
    val nWords = bitsPerFile / 64
    val rows = spark.read.parquet(files: _*)
      // file identity captured AT THE SCAN (input_file_name is empty
      // after a shuffle), in the manifest's own 3-part rel form
      .select(expr("substring_index(input_file_name(), '/', -3)").as("file"),
        col(physCol).cast("string").as("__v"))
      .filter(col("__v").isNotNull)
    val posCols = (0 until numHashes).map(i =>
      pmod(xxhash64(col("__v"), lit(i)), lit(bitsPerFile.toLong)).cast("int"))
    val words = rows
      .select(col("file"), explode(array(posCols: _*)).as("p"))
      .withColumn("widx", (col("p") / 64).cast("int"))
      .groupBy("file", "widx")
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), pmod(p, 64)))").as("word"))
    val dense = words.groupBy("file")
      .agg(map_from_entries(collect_list(struct(col("widx"), col("word")))).as("wm"))
      .select(col("file"),
        expr(s"transform(sequence(0, ${nWords - 1}), i -> coalesce(wm[i], CAST(0 AS BIGINT)))")
          .as("words"))
    val counts = rows.groupBy("file").agg(count(lit(1)).as("n_rows"))
    val built = dense.join(counts, Seq("file"))
      .withColumn("m", lit(bitsPerFile)).withColumn("k", lit(numHashes))
    val entries =
      withAllNullEntries(spark, built, rels, nWords, bitsPerFile, numHashes)
    val shardOf = shardOfRel(spark, root, s.version)
    tagShards(spark, entries, shardOf)
      .unionByName(shardAggregates(spark, rows, shardOf, bitsPerFile, numHashes))
      .write.mode("overwrite")
      .parquet(new Path(bloomDir(root, physCol), s"v${s.version}").toString)
    s.version
  }

  /** INCREMENTAL bloom build — the standing-index maintenance step
    * (the d7/s12/spanDedup posture applied to the sidecar): scan ONLY
    * the snapshot's files the newest build doesn't cover, carry the
    * still-live covered entries verbatim (immutable files ⇒ entries
    * never stale), and write the union as a fresh build — so
    * re-covering a 100-TB table after an append costs a pass over
    * the APPENDED bytes, not the table, while [[vacuum]]'s
    * newest-build-dominates GC stays valid. Entries for files no
    * longer in the snapshot are dropped (time-travel reads of older
    * versions just fall back to conservative keeps for them). No-op
    * (returns the version, writes nothing) when every file is
    * already covered. Sizing params come from the prior build —
    * probe positions must agree across eras. */
  def buildBloomIndexIncremental(spark: SparkSession, root: String,
                                 colName: String,
                                 version: Long = -1L): Long = {
    val s = snapshot(spark, root, version)
    val physCol = locally { // exact-top-level-name-wins, like the prune
      val cm0 = columnMapping(spark, root, s.version)
      tableSchema(spark, root, s.version).map(physPathAt(cm0, _, colName))
        .getOrElse(physPathOf(cm0, colName))
    }
    val prior = latestBloomDir(spark, root, physCol).getOrElse(
      return buildBloomIndex(spark, root, colName, version = version))
    val idx = spark.read.parquet(prior)
    val meta = idx.select("m", "k").head()
    val (m, k) = (meta.getInt(0), meta.getInt(1))
    val rels = fileLines(spark, root, s.version).map(lineRel)
    val covered = idx.select("file").collect().map(_.getString(0)).toSet
    val newRels = rels.filterNot(covered)
    val shardOf = shardOfRel(spark, root, s.version)
    // shard files are immutable, so a carried shard aggregate stays
    // valid forever; coverage = shard rels with an aggregate row in
    // the prior build (derivable from the same collect — no extra job)
    val coveredShards = covered.filter(_.startsWith(BloomShardMark))
      .map(_.stripPrefix(BloomShardMark))
    val newShardRels = shardOf.values.toSet -- coveredShards
    if (newRels.isEmpty && newShardRels.isEmpty) return s.version
    val nWords = m / 64
    val sp = spark; import sp.implicits._
    val perFileCols = Seq("file", "words", "n_rows", "m", "k")
    def scanVals(fileRels: Seq[String]): DataFrame =
      spark.read.parquet(fileRels.map(r => new Path(root, r).toString): _*)
        .select(expr("substring_index(input_file_name(), '/', -3)").as("file"),
          col(physCol).cast("string").as("__v"))
        .filter(col("__v").isNotNull)
    val fresh: DataFrame =
      if (newRels.isEmpty)
        idx.select(perFileCols.map(col): _*).limit(0)
      else {
        val rows = scanVals(newRels)
        val posCols = (0 until k).map(i =>
          pmod(xxhash64(col("__v"), lit(i)), lit(m.toLong)).cast("int"))
        val words = rows
          .select(col("file"), explode(array(posCols: _*)).as("p"))
          .withColumn("widx", (col("p") / 64).cast("int"))
          .groupBy("file", "widx")
          .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), pmod(p, 64)))").as("word"))
        val dense = words.groupBy("file")
          .agg(map_from_entries(collect_list(struct(col("widx"), col("word")))).as("wm"))
          .select(col("file"),
            expr(s"transform(sequence(0, ${nWords - 1}), i -> coalesce(wm[i], CAST(0 AS BIGINT)))")
              .as("words"))
        val counts = rows.groupBy("file").agg(count(lit(1)).as("n_rows"))
        withAllNullEntries(spark,
          dense.join(counts, Seq("file"))
            .withColumn("m", lit(m)).withColumn("k", lit(k)),
          newRels, nWords, m, k)
      }
    // carry only entries for files still in the snapshot — a semijoin
    // against the (metadata-sized) live-file list, never an isin of
    // thousands of literals. Shard-aggregate rows never match a data
    // rel, so the semijoin keeps file rows only.
    val carried = idx.join(rels.toDF("file"), Seq("file"), "left_semi")
      .select(perFileCols.map(col): _*)
    val allFiles = carried.unionByName(fresh.select(perFileCols.map(col): _*))
    // shard aggregates: carry entries for still-current shards
    // verbatim; shards formed since the last build (first shardManifest
    // or a re-shard — both mint NEW shard rels) are built by scanning
    // THEIR members once: a pass over the re-sharded bytes, never the
    // table
    val emptyShards = shardAggregates(spark, allFiles, Map.empty, m, k)
    val curShardRels: Seq[String] = shardOf.values.toSet.toSeq
    val carriedShards =
      if (!idx.columns.contains("shard") || coveredShards.isEmpty) emptyShards
      else idx.filter(col("file").startsWith(BloomShardMark))
        .join(broadcast(curShardRels.toDF("shard")), Seq("shard"), "left_semi")
        .select(emptyShards.columns.map(col): _*)
    val newMembers = shardOf.filter { case (_, sh) => newShardRels(sh) }
    val freshShards =
      if (newMembers.isEmpty) emptyShards
      else shardAggregates(spark, scanVals(newMembers.keys.toSeq), newMembers, m, k)
    tagShards(spark, allFiles, shardOf)
      .unionByName(carriedShards)
      .unionByName(freshShards)
      .write.mode("overwrite")
      .parquet(new Path(bloomDir(root, physCol), s"v${s.version}").toString)
    s.version
  }

  /** Scanned files whose indexed column was entirely null produce no
    * aggregate row; without an entry they'd stay "uncovered" forever,
    * so every incremental build would rescan them and the documented
    * no-op path could never fire. An all-zero bitset with n_rows = 0
    * is EXACT for them (an equality probe can never match null), and
    * coverage converges. */
  private def withAllNullEntries(spark: SparkSession, built: DataFrame,
                                 scannedRels: Seq[String], nWords: Int,
                                 m: Int, k: Int): DataFrame = {
    val sp = spark; import sp.implicits._
    val missing = scannedRels.toDF("file")
      .join(built.select("file"), Seq("file"), "left_anti")
      .withColumn("words",
        expr(s"transform(sequence(0, ${nWords - 1}), i -> CAST(0 AS BIGINT))"))
      .withColumn("n_rows", lit(0L))
      .withColumn("m", lit(m)).withColumn("k", lit(k))
    built.unionByName(missing.select(built.columns.map(col): _*))
  }

  /** The newest built bloom index dir for `colName`, if any. ANY
    * index version is conservative-correct for any read version:
    * entries key on immutable files, extra entries are unused and
    * missing entries are kept. */
  private def latestBloomDir(spark: SparkSession, root: String,
                             colName: String): Option[String] = {
    val f = fs(spark, root); val d = bloomDir(root, colName)
    if (!f.exists(d)) None
    else f.listStatus(d).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("v"))
      .sortBy(_.getName.stripPrefix("v").toLong)
      .lastOption.map(_.toString)
  }

  /** Bloom cut of `statsKept` for `colName = value` under the newest
    * sidecar: a file survives iff the index says its bitset has every
    * one of the value's bit positions set, or the index doesn't cover
    * it (conservatively kept). The value's positions come from the
    * SAME engine expression the build used — a one-row
    * metadata-scale job — so probe and build can never disagree. */
  private def bloomCut(spark: SparkSession, root: String, colName: String,
                       value: String, statsKept: Seq[String]): Seq[String] =
    bloomCutDetail(spark, root, colName, value, statsKept)._1

  /** Two-level bloom probe: `(kept, shardsOpened, shardsTotal)` —
    * shard counts are `(-1, -1)` when no index exists, the index
    * predates shard aggregates, or the manifest is unsharded.
    *
    * On a sharded index the probe checks SHARD aggregates first (a
    * shard whose OR-bitset lacks any probe bit contains the value in
    * no member — exact, OR only adds bits), then evaluates per-file
    * hits only inside surviving shards. What crosses to the driver is
    * the HIT keys and the UNCOVERED keys (both near-empty for a
    * selective probe on a converged index) — never an O(files)
    * boolean map, which was the round-10 posture this replaces. */
  private def bloomCutDetail(spark: SparkSession, root: String,
                             colName: String, value: String,
                             statsKept: Seq[String]): (Seq[String], Int, Int) =
    latestBloomDir(spark, root, colName) match {
      case None => (statsKept, -1, -1)
      case Some(dir) =>
        val idx0 = spark.read.parquet(dir)
        val k = idx0.select("k").head().getInt(0)
        // the probe's bit test evaluates against EACH ROW's own m —
        // shard aggregates are sized to their shard's cardinality
        // (m_shard = m·members), file rows to the per-file m. The hash
        // inputs don't depend on m, so one expression serves both.
        val idx = (0 until k).foldLeft(idx0)((d, i) =>
          d.withColumn(s"__h$i", xxhash64(lit(value), lit(i))))
        val hit = (0 until k).map(i => expr(
            s"(element_at(words, CAST(CAST(pmod(__h$i, m) AS INT) div 64 + 1 AS INT)) & " +
              s"shiftleft(CAST(1 AS BIGINT), CAST(pmod(__h$i, m) AS INT) % 64)) != 0"))
          .reduce(_ && _)
        def key3(f: String) = f.split('/').takeRight(3).mkString("/")
        if (!idx.columns.contains("shard")) {
          // legacy (round-10) flat index: per-file boolean walk
          val rows = idx.select(col("file"), hit.as("hit"))
            .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
          (statsKept.filter(f => rows.getOrElse(key3(f), true)), -1, -1)
        } else {
          val aggRows = idx.filter(col("file").startsWith(BloomShardMark))
            .select(col("shard"), hit.as("hit")).collect()
          // only a PROVABLY dead shard cuts its members; a shard with
          // no aggregate row stays file-level (conservative)
          val deadShards = aggRows.filterNot(_.getBoolean(1))
            .map(_.getString(0)).toSet
          val fileRows = idx.filter(!col("file").startsWith(BloomShardMark))
          val notDead =
            if (deadShards.isEmpty) lit(true)
            else col("shard").isNull ||
              !col("shard").isin(deadShards.toSeq: _*)
          val so = if (aggRows.isEmpty) -1 else aggRows.length - deadShards.size
          val st = if (aggRows.isEmpty) -1 else aggRows.length
          // round 12 (r11 verdict watch item): a NON-selective value —
          // present in most files — would ship most file keys to the
          // driver for a marginal cut. One LIMIT-bounded collect caps
          // the transfer: past half the stats-kept files the bloom cut
          // is immaterial, so the probe degrades to the stats set.
          val cap = statsKept.size / 2
          val hitArr = fileRows.filter(notDead && hit)
            .select("file").limit(cap + 1)
            .collect().map(_.getString(0))
          if (hitArr.length > cap) (statsKept, so, st)
          else {
            val hitKeys = hitArr.toSet
            // uncovered→keep, computed engine-side so the driver never
            // receives per-file misses: statsKept keys minus indexed keys
            val sp = spark; import sp.implicits._
            val uncovered = statsKept.map(key3).toDF("file")
              .join(fileRows.select("file"), Seq("file"), "left_anti")
              .collect().map(_.getString(0)).toSet
            val kept = statsKept.filter { f =>
              val k3 = key3(f); hitKeys.contains(k3) || uncovered.contains(k3)
            }
            (kept, so, st)
          }
        }
    }

  /** Point-lookup read: [[readRange]] semantics for `colName = value`,
    * with the file set cut by BOTH prunes — min/max stats first, then
    * the bloom sidecar (files whose bitset provably lacks one of the
    * value's bit positions are skipped; files the index doesn't cover
    * are kept). Exact: bloom false positives only cost I/O, never
    * rows, and the row-level equality filter still applies. */
  def readEq(spark: SparkSession, root: String, colName: String,
             value: String, version: Long = -1L): DataFrame = {
    val s = snapshot(spark, root, version)
    val (statsKept, _) = prunedFiles(spark, root, colName, value, value, s.version)
    // the sidecar is keyed by PHYSICAL name — survives renames
    val physCol = locally { // exact-top-level-name-wins, like the prune
      val cm0 = columnMapping(spark, root, s.version)
      tableSchema(spark, root, s.version).map(physPathAt(cm0, _, colName))
        .getOrElse(physPathOf(cm0, colName))
    }
    val kept = bloomCut(spark, root, physCol, value, statsKept)
    val base = tableSchema(spark, root, s.version) match {
      case Some(_) if kept.nonEmpty =>
        scanLogical(spark, root, s.version, kept,
          raw => applyDv(spark, root, s.version, raw))
      case None if kept.nonEmpty =>
        applyDv(spark, root, s.version, spark.read.parquet(kept: _*))
      case Some(sc) => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sc)
      case None => return read(spark, root, version).limit(0)
    }
    val dt = base.schema(colName).dataType
    base.filter(colRef(base.schema, colName) ===
      org.apache.spark.sql.functions.lit(value).cast(dt))
  }

  /** How many of the snapshot's stats-kept files a `colName = value`
    * point lookup actually opens under the bloom sidecar — the
    * observable prune for specs/monitoring: (opened, statsKept,
    * total). */
  def bloomPruneDetail(spark: SparkSession, root: String, colName: String,
                       value: String, version: Long = -1L): (Int, Int, Int) = {
    val d = bloomProbeDetail(spark, root, colName, value, version)
    (d.filesOpened, d.statsKept, d.totalFiles)
  }

  /** Full two-level probe observability: how many files the point
    * lookup opens (after stats AND bloom cuts), how many the stats
    * prune kept, the snapshot total, and — on a sharded index — how
    * many shards the bloom's shard aggregates admitted out of the
    * total (`-1/-1` when the index or manifest is unsharded). */
  final case class BloomProbeDetail(filesOpened: Int, statsKept: Int,
                                    totalFiles: Int, shardsOpened: Int,
                                    shardsTotal: Int)

  def bloomProbeDetail(spark: SparkSession, root: String, colName: String,
                       value: String, version: Long = -1L): BloomProbeDetail = {
    val s = snapshot(spark, root, version)
    val (statsKept, total) = prunedFiles(spark, root, colName, value, value, s.version)
    val physCol = locally { // exact-top-level-name-wins, like the prune
      val cm0 = columnMapping(spark, root, s.version)
      tableSchema(spark, root, s.version).map(physPathAt(cm0, _, colName))
        .getOrElse(physPathOf(cm0, colName))
    }
    val (kept, so, st) = bloomCutDetail(spark, root, physCol, value, statsKept)
    BloomProbeDetail(kept.size, statsKept.size, total, so, st)
  }

  /** Thrown when a commit requires the table to still be at a pinned
    * base version and another writer committed first — the caller
    * (e.g. [[compact]], [[merge]]) must re-read and retry or abort. */
  final class ConcurrentCommitException(msg: String)
    extends RuntimeException(msg)

  /** METADATA-ONLY commit: carry every file/shard/dv line verbatim and
    * publish transformed meta as version+1 — zero data files read or
    * written. `transform` re-derives (and re-validates) against the
    * CURRENT meta each OCC attempt. */
  private def metaOnlyCommit(spark: SparkSession, root: String,
      transform: Map[String, String] => Map[String, String],
      maxRetries: Int = 5): Long = {
    val f = fs(spark, root)
    var attempt = 0
    while (true) {
      val v = currentVersion(spark, root)
      require(v > 0, s"no committed version at $root")
      val meta2 = transform(manifestMeta(spark, root, v))
      val metaLines = meta2.toSeq.sortBy(_._1).map { case (k, m) => s"#$k=$m" }
      val lines = (metaLines ++ rawCarryLines(spark, root, v))
        .mkString("", "\n", "\n")
      val nonce = java.util.UUID.randomUUID.toString.take(8)
      val tmp = new Path(manifestDir(root), s".v${v + 1}-$nonce.tmp")
      val out = f.create(tmp, true)
      try out.write(lines.getBytes(StandardCharsets.UTF_8)) finally out.close()
      val won = currentVersion(spark, root) == v &&
        f.rename(tmp, new Path(manifestDir(root), s"v${v + 1}.manifest"))
      if (won) return v + 1
      f.delete(tmp, false)
      attempt += 1
      if (attempt > maxRetries)
        throw new ConcurrentCommitException(
          s"metadata commit at $root lost $attempt races")
    }
    sys.error("unreachable")
  }

  /** A column name entering the table via DDL must survive the
    * manifest's line-oriented meta AND its comma-joined lists
    * (`statscols`, `dropped`) and `k=v` form — reject the separator
    * characters outright rather than silently corrupting the
    * physical-name-reuse guard. */
  private def validColName(name: String, what: String): Unit = {
    require(name.nonEmpty, s"$what must be non-empty")
    require(!name.exists(c =>
        c == '\n' || c == '\r' || c == '\t' || c == ',' || c == '='),
      s"$what must not contain newlines, tabs, ',' or '=' " +
        s"(manifest line/list safety), got '$name'")
    // 'element' is the array-element path segment (round 14) — a FIELD
    // named element inside an array-of-struct would be unaddressable
    require(name != "element",
      s"$what may not be 'element' (reserved as the array-element " +
        "path segment)")
  }

  private def schemaOf(meta: Map[String, String], root: String, what: String)
      : org.apache.spark.sql.types.StructType =
    meta.get("schema").map(j =>
      org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[org.apache.spark.sql.types.StructType]).getOrElse(
      throw new IllegalArgumentException(
        s"$what needs a schema-tracked table at $root"))

  /** Manifest-meta transform for RENAME COLUMN; validation re-runs
    * against the CURRENT meta on every OCC attempt. Name-uniqueness
    * is CASE-INSENSITIVE (Spark SQL resolution is), so a rename can
    * never commit a schema whose columns differ only by case — but a
    * case-only rename of the SAME column stays legal.
    *
    * Round 13: `oldName` may be a DOTTED PATH into struct fields
    * (`props.lang`); `newName` is the new LEAF name (a dotted
    * `newName` is accepted when its parent path equals `oldName`'s —
    * the ALTER TABLE ... RENAME COLUMN a.b TO a.c convenience).
    * Uniqueness is checked among the parent struct's SIBLINGS, and
    * colmap entries UNDER the renamed field re-key to the new logical
    * prefix (their physical leaves — and therefore every stats/shard/
    * bloom key, which are physical-path-keyed — stay put). */
  def renameColumnTransform(root: String, oldName: String, newName: String)
      : Map[String, String] => Map[String, String] = {
    require(oldName != newName, "rename to the same name")
    meta => {
      val sc = schemaOf(meta, root, "renameColumn")
      // exact-top-level-name-wins ([[ddlSplit]], mirroring
      // [[fieldAtPath]]): a legacy column literally named `a.b` renames
      // as one leaf; the split therefore runs against the CURRENT
      // schema inside the OCC closure
      val (parentSegs, oldLeaf) = ddlSplit(sc, oldName)
      val exactTop = parentSegs.isEmpty && oldLeaf == oldName &&
        oldName.contains('.')
      val newLeaf =
        if (!newName.contains('.')) newName
        else if (exactTop) throw new IllegalArgumentException(
          s"renaming legacy dotted column '$oldName' to another dotted " +
            s"name '$newName' would re-create the path ambiguity — " +
            "pick an undotted name")
        else {
          require(newName.split('.').toSeq.init == parentSegs,
            s"rename cannot MOVE a column across structs: $oldName -> $newName")
          newName.split('.').last
        }
      validColName(newLeaf, "new column name")
      require(oldLeaf != newLeaf, "rename to the same name")
      val newPath = (parentSegs :+ newLeaf).mkString(".")
      val parentSt = parentStructOf(sc, parentSegs, root, "renameColumn")
      require(parentSt.fieldNames.contains(oldLeaf),
        s"no column $oldName at $root (have ${parentSt.fieldNames.mkString(", ")})")
      require(!parentSt.fieldNames.exists(f =>
          f.equalsIgnoreCase(newLeaf) && !f.equals(oldLeaf)),
        s"column $newPath already exists at $root (names are " +
          "case-insensitive under Spark SQL resolution)")
      val cm = meta.get("colmap").map(parseColmap).getOrElse(Map.empty)
      // a legacy dotted leaf's physical default is its FULL literal
      // name (that is what sits in the files), not its last segment
      val phys = cm.getOrElse(oldName, if (exactTop) oldName else oldLeaf)
      // the renamed field's own entry moves; entries for fields INSIDE
      // it re-key their logical prefix (physical names never move)
      val cm2 = (cm.flatMap { case (l, p) =>
        if (l == oldName) None
        else if (l.startsWith(oldName + "."))
          Some((newPath + l.substring(oldName.length)) -> p)
        else Some(l -> p)
      } + (newPath -> phys))
        .filter { case (l, p) => l.split('.').last != p }
      val sc2 = rewriteAt(sc, parentSegs, root, "renameColumn")(st =>
        org.apache.spark.sql.types.StructType(st.fields.map(f =>
          if (f.name == oldLeaf) f.copy(name = newLeaf) else f)))
      // the declared clustering layout follows the LOGICAL name —
      // including entries UNDER a renamed struct (their dotted paths
      // re-prefix exactly like their colmap keys)
      val clust2 = meta.get("clustering").map(_.split(',').map(c =>
        if (c == oldName) newPath
        else if (c.startsWith(oldName + "."))
          newPath + c.substring(oldName.length)
        else c).mkString(","))
      (meta - "colmap") + ("schema" -> sc2.json) ++
        (if (cm2.nonEmpty) Map("colmap" -> colmapJson(cm2)) else Map.empty) ++
        clust2.map("clustering" -> _)
    }
  }

  /** The struct `parentSegs` names (the root schema when empty);
    * every segment must be a struct field, or an array-of-struct
    * field followed by `element` (round 14). */
  private def parentStructOf(sc: org.apache.spark.sql.types.StructType,
                             parentSegs: Seq[String], root: String,
                             what: String)
      : org.apache.spark.sql.types.StructType = {
    var cur = sc
    var i = 0
    while (i < parentSegs.length) {
      val seg = parentSegs(i)
      cur.fields.find(_.name == seg) match {
        case Some(f) => f.dataType match {
          case st: org.apache.spark.sql.types.StructType => cur = st
          case at: org.apache.spark.sql.types.ArrayType
              if i + 1 < parentSegs.length && parentSegs(i + 1) == "element" &&
                at.elementType.isInstanceOf[org.apache.spark.sql.types.StructType] =>
            cur = at.elementType.asInstanceOf[org.apache.spark.sql.types.StructType]
            i += 1
          case other => throw new IllegalArgumentException(
            s"$what: '$seg' is not a struct (is ${other.simpleString}) at " +
              s"$root — column paths may only traverse struct fields, or " +
              "an array<struct> via '.element.'")
        }
        case None => throw new IllegalArgumentException(
          s"$what: no field '$seg' at $root (have ${cur.fieldNames.mkString(", ")})")
      }
      i += 1
    }
    cur
  }

  /** RENAME a column — METADATA-ONLY (round 12, column mapping): the
    * column's on-disk (physical) name is fixed at its first commit,
    * so a rename moves only the logical mapping in the new manifest —
    * zero data files rewritten, file stats / shard aggregates / bloom
    * sidecars (all physical-keyed) stay valid, time travel sees each
    * era's names, and MERGE/UPDATE/DELETE keep working under the new
    * name. Returns the committed version. */
  def renameColumn(spark: SparkSession, root: String,
                   oldName: String, newName: String,
                   maxRetries: Int = 5): Long =
    metaOnlyCommit(spark, root,
      renameColumnTransform(root, oldName, newName), maxRetries)

  /** ADD a column — METADATA-ONLY: the new (nullable) field joins the
    * manifest schema; every existing file simply lacks the physical
    * column, so reads NULL-backfill it (the same add-on-write
    * semantics appends already had, now available without writing a
    * row). Rejects names whose on-disk slot a renamed or dropped
    * column still owns. */
  def addColumn(spark: SparkSession, root: String, name: String,
                dataType: org.apache.spark.sql.types.DataType,
                maxRetries: Int = 5): Long =
    metaOnlyCommit(spark, root, addColumnTransform(root, name, dataType),
      maxRetries)

  /** Manifest-meta transform for ADD COLUMN; both the logical
    * already-exists check and the physical-slot collision check are
    * case-insensitive (parquet readers resolve physical names
    * case-insensitively too). Round 13: `name` may be a dotted path —
    * `props.new_field` adds a nullable field INSIDE the struct at
    * `props` (metadata-only like the top-level form: old files lack
    * the nested physical column and read NULL for it); the collision
    * domain is the full physical-PATH set, so a new nested field can
    * never land on a slot a renamed or dropped field still owns. */
  def addColumnTransform(root: String, name: String,
                         dataType: org.apache.spark.sql.types.DataType)
      : Map[String, String] => Map[String, String] =
    addColumnTransform(root, name, dataType, None)

  /** ADD COLUMN with an optional DEFAULT (round 16) — still
    * metadata-only, NO data rewrite: the default lands as the field's
    * `CURRENT_DEFAULT` / `EXISTS_DEFAULT` metadata in the manifest
    * schema. The parquet scan applies the EXISTS default for every
    * file that predates the column (the engine's native existence-
    * default backfill — per-file-exact, so a post-add explicit NULL
    * stays NULL), and the SQL INSERT path fills the CURRENT default
    * for writes that omit the column. `SET DEFAULT` later moves only
    * CURRENT (new writes), never EXISTS (history keeps the add-time
    * backfill — the public Delta/Iceberg initial-default contract).
    * The default must be a constant literal expression; the manifest
    * meta is line-oriented, so the SQL is normalized to one line. */
  def addColumnTransform(root: String, name: String,
                         dataType: org.apache.spark.sql.types.DataType,
                         defaultSql: Option[String])
      : Map[String, String] => Map[String, String] = {
    val parentSegs = name.split('.').toSeq.init
    val leaf = name.split('.').last
    validColName(leaf, "column name")
    val dflt = defaultSql.map(_.replaceAll("[\\n\\r\\t]", " ").trim)
      .filter(_.nonEmpty)
    dflt.foreach(_ => require(parentSegs.isEmpty,
      s"DEFAULT is supported on top-level columns only, got '$name'"))
    meta => {
      val sc = schemaOf(meta, root, "addColumn")
      val parentSt = parentStructOf(sc, parentSegs, root, "addColumn")
      require(!parentSt.fieldNames.exists(_.equalsIgnoreCase(leaf)),
        s"column $name already exists at $root (names are " +
          "case-insensitive under Spark SQL resolution)")
      val cm = meta.get("colmap").map(parseColmap).getOrElse(Map.empty)
      val dropped = meta.get("dropped").toSeq.flatMap(_.split(","))
        .filter(_.nonEmpty).toSet
      // the new field's on-disk path: parent prefix resolves through
      // the map, the new leaf is born unmapped (physical == logical)
      val physParent = physPathOf(cm, parentSegs.mkString("."))
      val newPhysPath =
        if (parentSegs.isEmpty) leaf else s"$physParent.$leaf"
      if (allPhysPaths(cm, sc).exists(_.equalsIgnoreCase(newPhysPath)) ||
          dropped.exists(_.equalsIgnoreCase(newPhysPath)))
        throw new IllegalArgumentException(
          s"physical column collision at $root: $newPhysPath is a renamed " +
            "or dropped column's on-disk name")
      val fieldMeta = dflt match {
        case Some(d) => new org.apache.spark.sql.types.MetadataBuilder()
          .putString(org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
            .CURRENT_DEFAULT_COLUMN_METADATA_KEY, d)
          .putString(org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
            .EXISTS_DEFAULT_COLUMN_METADATA_KEY, d)
          .build()
        case None => org.apache.spark.sql.types.Metadata.empty
      }
      val sc2 = rewriteAt(sc, parentSegs, root, "addColumn")(st =>
        org.apache.spark.sql.types.StructType(st.fields :+
          org.apache.spark.sql.types.StructField(leaf, dataType,
            nullable = true, fieldMeta)))
      meta + ("schema" -> sc2.json)
    }
  }

  /** SET / DROP a top-level column's CURRENT default (round 16) —
    * metadata-only. DROP removes only the CURRENT default (new writes
    * stop filling it); the EXISTS default stays so files from before
    * the column keep their add-time backfill. An empty `newDefault`
    * means DROP. */
  def setColumnDefault(spark: SparkSession, root: String, name: String,
                       newDefault: Option[String],
                       maxRetries: Int = 5): Long =
    metaOnlyCommit(spark, root,
      setColumnDefaultTransform(root, name, newDefault), maxRetries)

  /** Manifest-meta transform for SET/DROP DEFAULT — composable into a
    * multi-change ALTER's one-commit contract ([[alterColumns]]). */
  def setColumnDefaultTransform(root: String, name: String,
                                newDefault: Option[String])
      : Map[String, String] => Map[String, String] = {
    val curKey = org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
      .CURRENT_DEFAULT_COLUMN_METADATA_KEY
    val existsKey = org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
      .EXISTS_DEFAULT_COLUMN_METADATA_KEY
    val dflt = newDefault.map(_.replaceAll("[\\n\\r\\t]", " ").trim)
      .filter(_.nonEmpty)
    meta => {
      val sc = schemaOf(meta, root, "setColumnDefault")
      require(sc.fieldNames.contains(name),
        s"no top-level column $name at $root " +
          s"(have ${sc.fieldNames.mkString(", ")}; defaults are " +
          "top-level only)")
      val sc2 = org.apache.spark.sql.types.StructType(sc.fields.map { f =>
        if (f.name != name) f
        else {
          val mb = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
          dflt match {
            case Some(d) =>
              mb.putString(curKey, d)
              // first-ever default on an existing column backfills
              // like ADD COLUMN DEFAULT: files lacking the column
              // serve it (files HOLDING null keep null — per-file
              // existence semantics)
              if (!f.metadata.contains(existsKey)) mb.putString(existsKey, d)
            case None => mb.remove(curKey)
          }
          f.copy(metadata = mb.build())
        }
      })
      meta + ("schema" -> sc2.json)
    }
  }

  /** DROP a column — METADATA-ONLY: the schema field and its mapping
    * leave the manifest; the physical column stays in the immutable
    * data files (readers never select it; time travel still sees it
    * at older versions) and its on-disk name stays RESERVED (a new
    * column may not reuse it — commitCore's collision guard), so the
    * files need no rewrite. The physical key also leaves `statscols`
    * so future commits stop computing stats for it. */
  def dropColumn(spark: SparkSession, root: String, name: String,
                 maxRetries: Int = 5): Long =
    metaOnlyCommit(spark, root,
      dropColumnTransform(root, name, ifExists = false), maxRetries)

  /** Manifest-meta transform for DROP COLUMN. With `ifExists` a
    * missing column makes the transform a no-op instead of an error
    * (the `DROP COLUMN IF EXISTS` leg of an atomic multi-change ALTER
    * must not fail the whole statement). The physical name entering
    * the comma-joined `dropped` reservation list is re-validated here:
    * a legacy comma-bearing name would corrupt the list, so it is
    * rejected at drop time with a rewrite hint. */
  def dropColumnTransform(root: String, name: String, ifExists: Boolean)
      : Map[String, String] => Map[String, String] = meta => {
    val sc = schemaOf(meta, root, "dropColumn")
    // exact-top-level-name-wins, mirroring [[fieldAtPath]]'s read-side
    // rule: a legacy column literally named `a.b` drops as one leaf
    val (parentSegs, leaf) = ddlSplit(sc, name)
    if (fieldAtPath(sc, name).isEmpty) {
      if (ifExists) meta
      else throw new IllegalArgumentException(
        s"no column $name at $root (have ${sc.fieldNames.mkString(", ")})")
    } else {
      val parentSt = parentStructOf(sc, parentSegs, root, "dropColumn")
      require(parentSt.fields.length > 1,
        if (parentSegs.isEmpty) s"cannot drop the last column of $root"
        else s"cannot drop the last field of struct " +
          s"${parentSegs.mkString(".")} at $root (drop the struct instead)")
      val cm = meta.get("colmap").map(parseColmap).getOrElse(Map.empty)
      // reserve the full dotted PHYSICAL path (old files keep serving
      // it at old versions; a new field must never land on it); a
      // legacy literal-dot column reserves its OWN name, not a
      // mis-keyed per-segment walk ([[physPathAt]])
      val phys = physPathAt(cm, sc, name)
      require(!phys.contains(",") && !phys.contains("="),
        s"cannot reserve physical name '$phys' (contains ',' or '='); " +
          "RENAME the column and rewrite the table before dropping")
      // the field's own mapping leaves, and so do mappings INSIDE it
      val cm2 = cm.filterNot { case (l, _) =>
        l == name || l.startsWith(name + ".") }
      val sc2 = rewriteAt(sc, parentSegs, root, "dropColumn")(st =>
        org.apache.spark.sql.types.StructType(
          st.fields.filterNot(_.name == leaf)))
      // stats keyed AT or UNDER the dropped physical path go too
      val stats2 = meta.get("statscols").map(_.split(",")
        .filter(s0 => s0.nonEmpty && s0 != phys &&
          !s0.startsWith(phys + ".")).mkString(","))
        .filter(_.nonEmpty)
      val dropped2 = (meta.get("dropped").toSeq.flatMap(_.split(","))
        .filter(_.nonEmpty).toSet + phys).toSeq.sorted.mkString(",")
      // a dropped column leaves the declared clustering layout too
      val clust2 = meta.get("clustering").map(_.split(',')
        .filterNot(c => c == name || c.startsWith(name + "."))
        .mkString(",")).filter(_.nonEmpty)
      (meta - "colmap" - "statscols" - "clustering") +
        ("schema" -> sc2.json) ++
        (if (cm2.nonEmpty) Map("colmap" -> colmapJson(cm2)) else Map.empty) ++
        stats2.map("statscols" -> _) + ("dropped" -> dropped2) ++
        clust2.map("clustering" -> _)
    }
  }

  /** Apply a SEQUENCE of column-DDL transforms as ONE metadata
    * commit — the all-or-nothing contract a multi-change `ALTER
    * TABLE` statement carries: either every change publishes together
    * as version+1 (and OCC-retries together), or a failing change
    * aborts them all with nothing committed. */
  def alterColumns(spark: SparkSession, root: String,
      transforms: Seq[Map[String, String] => Map[String, String]],
      maxRetries: Int = 5): Long = {
    require(transforms.nonEmpty, "alterColumns needs at least one change")
    metaOnlyCommit(spark, root,
      meta => transforms.foldLeft(meta)((m, t) => t(m)), maxRetries)
  }

  // ──────────────────── write-path constraints (round 16) ────────────────────
  // Declared table constraints live as `constraint.<name>` manifest
  // meta entries holding a CHECK predicate (SQL text over LOGICAL
  // column names; NOT NULL is the `col IS NOT NULL` special case).
  // They are TABLE properties: carried through every commit like
  // `clustering`, visible per era (time travel sees the constraints
  // of its version). Enforcement is ONE vectorized aggregate pass
  // over each commit's OWN files — commit-sized, never table-sized —
  // on every write path (INSERT/CTAS/MERGE/UPDATE/streaming epoch);
  // a violation fails the commit with per-constraint row counts and
  // the staged files are dropped, so the table is left unchanged.
  // Pipelines get loud writes instead of post-hoc audits.

  /** Declared constraints of a version's era: name → CHECK predicate. */
  def constraintsOf(spark: SparkSession, root: String,
                    version: Long = -1L): Map[String, String] =
    manifestMeta(spark, root, version).collect {
      case (k, v) if k.startsWith("constraint.") =>
        k.stripPrefix("constraint.") -> v
    }

  /** Per-constraint violation counts over a LOGICAL-named frame
    * (SQL CHECK semantics: NULL passes, only FALSE violates) — one
    * aggregate pass, no shuffle. Returns (name, violations, total). */
  private def violationCounts(df: DataFrame,
                              constraints: Seq[(String, String)])
      : Seq[(String, Long, Long)] = {
    val aggs = constraints.zipWithIndex.map { case ((_, p), i) =>
      sum(when(expr(p).isNull || expr(p), 0L).otherwise(1L)).as(s"__c$i")
    } :+ count(lit(1)).as("__n")
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    val total = r.getAs[Long]("__n")
    constraints.zipWithIndex.map { case ((n, _), i) =>
      (n, Option(r.getAs[Any](s"__c$i")).map(_.toString.toLong).getOrElse(0L),
        total)
    }
  }

  /** Enforce `constraints` over `df`; columns of the table schema
    * missing from `df` evaluate as NULL (what the committed files
    * will serve), so `c IS NOT NULL` rightly fails a write that omits
    * a mandatory column. Throws with per-constraint counts. */
  private def enforceConstraints(df: DataFrame,
                                 constraints: Seq[(String, String)],
                                 tableSc: Option[org.apache.spark.sql.types.StructType],
                                 root: String, what: String): Unit = {
    if (constraints.isEmpty) return
    val existsKey = org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
      .EXISTS_DEFAULT_COLUMN_METADATA_KEY
    val widened = tableSc match {
      case Some(sc) =>
        val missing = sc.fields.filterNot(f => df.columns.contains(f.name))
        // a missing DEFAULTed column serves its existence default at
        // read, so the gate must evaluate that, not NULL
        missing.foldLeft(df)((d, f) =>
          d.withColumn(f.name,
            (if (f.metadata.contains(existsKey))
               expr(f.metadata.getString(existsKey))
             else lit(null)).cast(f.dataType)))
      case None => df
    }
    val bad = violationCounts(widened, constraints).filter(_._2 > 0)
    failConstraints(bad, root, what)
  }

  /** Shared abort for a failed CHECK gate — `bad` is the nonzero slice
    * of (name, violations, total). */
  private def failConstraints(bad: Seq[(String, Long, Long)],
                              root: String, what: String): Unit =
    if (bad.nonEmpty)
      throw new IllegalArgumentException(
        s"$what at $root violates CHECK constraint" +
          (if (bad.size > 1) "s " else " ") +
          bad.map { case (n, v, t) => s"'$n' ($v of $t rows)" }
            .mkString(", ") + " — the commit was aborted, the table is " +
          "unchanged")

  private def validConstraintName(name: String): Unit = {
    require(name.nonEmpty && name.forall(c =>
        c.isLetterOrDigit || c == '-' || c == '_'),
      s"constraint name must be [A-Za-z0-9_-]+, got '$name'")
  }

  /** ADD a CHECK constraint (metadata commit). The predicate must
    * analyze against the table's schema, and EXISTING rows must pass
    * (one table scan; the standard ADD CONSTRAINT contract — adding a
    * constraint the data already violates would make every later
    * write fail for someone else's rows). */
  def addConstraint(spark: SparkSession, root: String, name: String,
                    predicate: String, maxRetries: Int = 5): Long = {
    validConstraintName(name)
    // manifest meta is line-oriented: a predicate with newlines would
    // corrupt it — normalize rather than reject (SQL is whitespace-
    // insensitive)
    val pred = predicate.replaceAll("[\\n\\r\\t]", " ").trim
    require(pred.nonEmpty, "empty constraint predicate")
    val cur = read(spark, root)
    cur.limit(0).filter(pred).collect() // analysis check, fails loudly
    enforceConstraints(cur, Seq(name -> pred), None, root,
      s"ADD CONSTRAINT $name: existing data")
    metaOnlyCommit(spark, root, meta => {
      require(!meta.contains(s"constraint.$name"),
        s"constraint '$name' already exists at $root")
      meta + (s"constraint.$name" -> pred)
    }, maxRetries)
  }

  /** DROP a constraint (metadata commit). */
  def dropConstraint(spark: SparkSession, root: String, name: String,
                     ifExists: Boolean = false, maxRetries: Int = 5): Long = {
    validConstraintName(name)
    metaOnlyCommit(spark, root, meta => {
      if (!meta.contains(s"constraint.$name") && !ifExists)
        throw new IllegalArgumentException(
          s"no constraint '$name' at $root (have " +
            meta.keys.filter(_.startsWith("constraint."))
              .map(_.stripPrefix("constraint.")).toSeq.sorted
              .mkString(", ") + ")")
      meta - s"constraint.$name"
    }, maxRetries)
  }

  /** Write `df` as a new commit. `mode` "overwrite" makes the new
    * manifest reference only this commit's files; "append" makes it
    * reference the previous manifest's files plus this commit's.
    * Returns the committed version. Safe under concurrent committers:
    * the manifest rename is the commit point, losers retry.
    *
    * `expectBase >= 0` turns the blind retry into optimistic
    * concurrency control: the commit succeeds only if the table is
    * STILL at `expectBase` when the manifest rename wins — otherwise
    * the just-written data files are removed and
    * [[ConcurrentCommitException]] is thrown. Read-modify-write
    * callers (compaction, merge) need this: their output was derived
    * from a snapshot, and publishing it after an intervening commit
    * would silently drop that commit (lost update). */
  def commit(df: DataFrame, root: String, mode: String = "overwrite",
             meta: Map[String, String] = Map.empty,
             expectBase: Long = -1L,
             statsCols: Seq[String] = Nil): Long = {
    require(mode == "overwrite" || mode == "append", s"bad mode $mode")
    val idFields = identityFields(
      tableSchema(df.sparkSession, root,
        currentVersion(df.sparkSession, root)))
    if (idFields.nonEmpty)
      return commitWithIdentity(df, root, mode, meta, expectBase, statsCols,
        idFields)
    commitCore(df, root, meta, expectBase,
      carriedLines = cur =>
        // append carries the previous files AND their deletion
        // vectors (dropping the dv lines would resurrect deleted
        // rows); overwrite carries neither. Carried VERBATIM — shard
        // refs stay refs, so appending to a sharded 10M-file table
        // copies O(shards) lines, never O(files).
        if (mode == "append" && cur > 0)
          rawCarryLines(df.sparkSession, root, cur)
        else Seq.empty,
      unionWithPrev = mode == "append",
      statsCols = statsCols)
  }

  // ─────────────────────── identity columns (round 16) ───────────────────────
  // `id BIGINT GENERATED ALWAYS AS IDENTITY (START WITH s INCREMENT
  // BY k)` — the spec lands in the field's metadata (the engine's
  // identity.start/step/allowExplicitInsert keys, round-tripped
  // through the manifest schema), and VALUE GENERATION is this
  // layout's job: the next-value HIGH-WATER mark is a carried
  // manifest property (`identitynext.<phys>`), each generating commit
  // assigns `next + step * monotonically_increasing_id()` (unique by
  // construction; SPARSE — partition indices leave gaps, the public
  // Delta/Iceberg identity contract promises uniqueness and
  // direction, never contiguity) and advances the mark to
  // bound + step, all under OCC: a commit that loses the manifest
  // race re-derives from the winner's mark and REGENERATES, so two
  // concurrent inserts can never allocate overlapping ranges.
  // GENERATED ALWAYS rejects explicit non-NULL values; BY DEFAULT
  // fills only the NULL slots (per-row coalesce — exactly the SQL
  // contract, and what an INSERT omitting the column null-pads to).

  /** Top-level IDENTITY fields of a schema with their specs. */
  private def identityFields(sc: Option[org.apache.spark.sql.types.StructType])
      : Seq[(org.apache.spark.sql.types.StructField,
             org.apache.spark.sql.connector.catalog.IdentityColumnSpec)] =
    sc.toSeq.flatMap(_.fields.toSeq.flatMap(f =>
      org.apache.spark.sql.catalyst.util.IdentityColumn.getIdentityInfo(f)
        .map(spec => (f, spec))))

  /** True when `sc` carries a GENERATED ALWAYS identity column —
    * the paths that cannot generate (MERGE inserts, streaming
    * epochs, UPDATE SET) reject those tables precisely. */
  private[graft] def hasStrictIdentity(
      sc: Option[org.apache.spark.sql.types.StructType]): Seq[String] =
    identityFields(sc).collect {
      case (f, s) if !s.isAllowExplicitInsert => f.name }

  /** Precise rejection for mutation paths that cannot GENERATE
    * identity values — silently landing NULL or caller-supplied ids
    * in a GENERATED ALWAYS column would corrupt the sequence. */
  def rejectStrictIdentity(spark: SparkSession, root: String,
                           what: String): Unit = {
    val strict = hasStrictIdentity(tableSchema(spark, root))
    if (strict.nonEmpty)
      throw new UnsupportedOperationException(
        s"$what is not supported on a table with GENERATED ALWAYS " +
          s"identity column${if (strict.size > 1) "s" else ""} " +
          strict.mkString(", ") + s" at $root — identity generation is " +
          "an INSERT-path contract; declare GENERATED BY DEFAULT for " +
          "writer-supplied ids")
  }

  private def commitWithIdentity(df: DataFrame, root: String, mode: String,
                                 meta: Map[String, String], expectBase: Long,
                                 statsCols: Seq[String],
                                 idFields: Seq[(org.apache.spark.sql.types.StructField,
                                   org.apache.spark.sql.connector.catalog.IdentityColumnSpec)])
      : Long = {
    val spark = df.sparkSession
    // GENERATED ALWAYS forbids explicit values — checked ONCE against
    // the caller's frame (an INSERT omitting the column null-pads it;
    // nulls are the "generate here" slots, not explicit values)
    idFields.foreach { case (f, s) =>
      if (!s.isAllowExplicitInsert && df.columns.contains(f.name) &&
          !df.filter(topCol(f.name).isNotNull).isEmpty)
        throw new IllegalArgumentException(
          s"identity column ${f.name} at $root is GENERATED ALWAYS — " +
            "explicit values are not accepted (use GENERATED BY DEFAULT " +
            "for writer-supplied ids)")
    }
    var attempt = 0
    while (true) {
      val base = currentVersion(spark, root)
      if (expectBase >= 0 && base != expectBase)
        throw new ConcurrentCommitException(
          s"table at $root moved to v$base (expected v$expectBase) before write")
      val curMeta = manifestMeta(spark, root, base)
      val cmI = columnMapping(spark, root, base)
      var filled = df
      idFields.foreach { case (f, s) =>
        val phys = physNameOf(cmI, f.name)
        val next = curMeta.get(s"identitynext.$phys").map(_.toLong)
          .getOrElse(s.getStart)
        val gen = (lit(next) + lit(s.getStep) *
          org.apache.spark.sql.functions.monotonically_increasing_id())
          .cast(f.dataType)
        filled =
          if (!filled.columns.contains(f.name))
            filled.withColumn(f.name, gen)
          else filled.withColumn(f.name, coalesce(topCol(f.name), gen))
      }
      // freeze the generated values: the high-water advance below and
      // the data write must observe the SAME ids (commit-sized
      // materialization, identity tables only)
      val materialized = filled.localCheckpoint(true)
      try {
        val bounds = materialized.agg(
          count(lit(1)).as("__n"),
          idFields.map { case (f, s) =>
            (if (s.getStep > 0)
               org.apache.spark.sql.functions.max(topCol(f.name))
             else org.apache.spark.sql.functions.min(topCol(f.name)))
              .cast("long").as(s"__b_${f.name}")
          }: _*).head()
        val nextMeta = idFields.flatMap { case (f, s) =>
          val phys = physNameOf(cmI, f.name)
          val cur = curMeta.get(s"identitynext.$phys").map(_.toLong)
            .getOrElse(s.getStart)
          Option(bounds.getAs[Any](s"__b_${f.name}"))
            .map(_.toString.toLong).map { b =>
              val n2 = if (s.getStep > 0) math.max(cur, b + s.getStep)
                       else math.min(cur, b + s.getStep)
              s"identitynext.$phys" -> n2.toString
            }
        }.toMap
        // OCC pinned to OUR base: a racing writer's win invalidates
        // the reserved range — regenerate from the winner's mark
        return commitCore(materialized, root, meta ++ nextMeta,
          expectBase = base,
          carriedLines = cur =>
            if (mode == "append" && cur > 0) rawCarryLines(spark, root, cur)
            else Seq.empty,
          unionWithPrev = mode == "append",
          statsCols = statsCols)
      } catch {
        case _: ConcurrentCommitException if expectBase < 0 && attempt < 5 =>
          attempt += 1
      } finally {
        materialized.unpersist(false)
        ()
      }
    }
    sys.error("unreachable")
  }

  /** Commit parquet files ALREADY WRITTEN under `root` (`written`:
    * relative path → byte size, holding PHYSICAL-named columns of
    * `logicalSchema` under the column mapping `cm`) as ONE manifest
    * commit — the DSv2 STREAMING WRITE's landing: each epoch's
    * executors write their files directly through the parquet
    * OutputWriter (no driver re-shuffle, no second write), and the
    * driver publishes the epoch with this call. Same OCC loop, stats
    * pass, schema union and collision checks as [[commit]]; the loop
    * aborts (dropping `cleanupDirs`) if the column mapping moved under
    * the write. Returns the committed version. */
  def commitStagedFiles(spark: SparkSession, root: String,
                        written: Seq[(String, Long)],
                        logicalSchema: org.apache.spark.sql.types.StructType,
                        cm: Map[String, String],
                        meta: Map[String, String],
                        mode: String = "append",
                        cleanupDirs: Seq[String] = Nil,
                        skipIfBatchAtLeast: Option[(String, Long)] = None): Long = {
    require(mode == "overwrite" || mode == "append", s"bad mode $mode")
    require(meta.forall { case (k, v) =>
      !k.contains("=") && !(k + v).exists(c => c == '\n' || c == '\r') },
      "meta keys/values must be line-safe")
    Seq("schema", "statscols", "colmap", "dropped").foreach(k =>
      require(!meta.contains(k), s"meta key '$k' is reserved"))
    val physSchema = physStruct(cm, logicalSchema)
    // inherit the table's statscols (already physical), same as commit
    val effStats = manifestMeta(spark, root).get("statscols").toSeq
      .flatMap(_.split(",")).filter(_.nonEmpty)
      .filter(p => fieldAtPath(physSchema, p).isDefined)
    publishStaged(spark, root, written, logicalSchema, physSchema, cm,
      meta, expectBase = -1L,
      carriedLines = cur =>
        if (mode == "append" && cur > 0) rawCarryLines(spark, root, cur)
        else Seq.empty,
      unionWithPrev = mode == "append",
      effStats = effStats,
      cleanupDirs = cleanupDirs.map(new Path(root, _)),
      skipIfBatchAtLeast = skipIfBatchAtLeast)
  }

  /** UPDATE-MODE streaming epoch (round 16): commit parquet files
    * ALREADY WRITTEN under `root` as one atomic KEYED UPSERT — the
    * epoch's rows replace every live row sharing their `keys` values
    * (a merge-on-read deletion vector records the replaced positions;
    * NO existing data file rewrites) and append as fresh files, all
    * under the same per-writer exactly-once watermark as an append
    * epoch. This is the landing shape of a watermarked streaming
    * aggregate in update output mode: each epoch re-emits only its
    * CHANGED keys, and the table converges to one row per key without
    * complete mode's whole-table rewrite per epoch. The DV derivation
    * re-runs per OCC attempt against the current snapshot (losing a
    * race re-derives the vectors; the staged data files are reused),
    * the column-mapping and watermark guards re-check inside the
    * loop, and declared CHECK constraints gate the epoch rows.
    * Returns the committed version. */
  def upsertStagedFiles(spark: SparkSession, root: String,
                        written: Seq[(String, Long)],
                        logicalSchema: org.apache.spark.sql.types.StructType,
                        cm: Map[String, String],
                        keys: Seq[String],
                        meta: Map[String, String],
                        cleanupDirs: Seq[String] = Nil,
                        skipIfBatchAtLeast: Option[(String, Long)] = None,
                        maxRetries: Int = 5): Long = {
    require(keys.nonEmpty, "upsertStagedFiles needs at least one key column")
    require(written.nonEmpty, "upsertStagedFiles needs staged files")
    keys.foreach(k => require(logicalSchema.fieldNames.contains(k),
      s"upsert key '$k' missing from the write schema " +
        s"(${logicalSchema.fieldNames.mkString(", ")})"))
    val f = fs(spark, root)
    def dropStaged(): Unit =
      cleanupDirs.foreach(d => f.delete(new Path(root, d), true))
    val physSchema = physStruct(cm, logicalSchema)
    // logical view of the staged epoch rows (the scanLogical rename
    // recipe, against explicit files)
    val epochRows = {
      val raw = spark.read.schema(physSchema)
        .parquet(written.map(w => new Path(root, w._1).toString): _*)
      if (cm.isEmpty) raw
      else raw.select(logicalSchema.fields.zip(physSchema.fields).map {
        case (lf, pf) =>
          if (pf.dataType == lf.dataType) topCol(pf.name).as(lf.name)
          else topCol(pf.name).cast(relaxNullability(lf.dataType)).as(lf.name)
      }.toSeq: _*)
    }
    locally {
      val declared = constraintsOf(spark, root).toSeq.sortBy(_._1)
      if (declared.nonEmpty)
        try enforceConstraints(epochRows, declared,
          tableSchema(spark, root), root, "streaming upsert")
        catch { case e: Throwable => dropStaged(); throw e }
    }
    // the epoch's distinct keys — epoch-sized, reused across attempts
    val epochKeys = epochRows.select(keys.map(topCol): _*)
      .distinct().localCheckpoint(true)
    var attempt = 0
    while (true) {
      val s = snapshot(spark, root)
      val curMeta = manifestMeta(spark, root, s.version)
      if (skipIfBatchAtLeast.exists { case (qid, epoch) =>
          batchWatermark(curMeta, qid) >= epoch }) {
        dropStaged()
        return s.version
      }
      if (columnMapping(spark, root, s.version) != cm) {
        dropStaged()
        throw new ConcurrentCommitException(
          s"column mapping at $root changed under the write")
      }
      // live rows the epoch's keys replace → deletion-vector entries
      val base = scanLogical(spark, root, s.version, s.files, raw => raw
        .withColumn("__dvf", expr("substring_index(input_file_name(), '/', -3)"))
        .withColumn("__dvp", col("_metadata.row_index").cast("long")))
      val dvs = dvEntries(spark, root, s.version)
      val liveRows =
        if (dvs.isEmpty) base
        else base.join(
          spark.read.parquet(dvs.map(_._2).distinct
              .map(rel => new Path(root, rel).toString): _*)
            .select(col("file").as("__dvf"), col("pos").as("__dvp")).distinct(),
          Seq("__dvf", "__dvp"), "left_anti")
      val hits = liveRows.join(broadcast(epochKeys), keys, "left_semi")
        .select(col("__dvf").as("file"), col("__dvp").as("pos"))
        .localCheckpoint(true)
      val nonce = java.util.UUID.randomUUID.toString.take(8)
      val dvDirRel = s"data/c${s.version + 1}-$nonce-dv"
      val dvLines: Seq[String] =
        if (hits.isEmpty) Nil
        else {
          hits.coalesce(1).write.parquet(new Path(root, dvDirRel).toString)
          val dvRels = f.listStatus(new Path(root, dvDirRel))
            .filter(_.getPath.getName.endsWith(".parquet"))
            .map(st => s"$dvDirRel/${st.getPath.getName}").sorted.toSeq
          val touched = hits.select("file").distinct()
            .collect().map(_.getString(0)).sorted.toSeq
          for (t <- touched; dRel <- dvRels) yield s"!dv\t$t\t$dRel"
        }
      // the epoch's files land with per-file stats like any commit
      // (prunable at birth on a clustered table)
      val effStats = curMeta.get("statscols").toSeq
        .flatMap(_.split(",")).filter(_.nonEmpty)
        .filter(p => fieldAtPath(physSchema, p).isDefined)
      val sizeByName = written.map { case (rel, len) =>
        new Path(rel).getName -> len }.toMap
      val newLines = statLines(spark, root, written, physSchema, effStats,
        sizeByName)
      val unioned = unionSchema(tableSchema(spark, root, s.version),
        logicalSchema)
      val carriedKeys = Seq("clustering", "clustering_bits", "batch",
        "upsert_keys", "autocompact") ++
        curMeta.keys.filter(k => k.startsWith("batch.") ||
          k.startsWith("constraint.") || k.startsWith("default.") ||
          k.startsWith("identitynext."))
      val allMeta = carriedKeys
        .flatMap(k => curMeta.get(k).map(k -> _)).toMap ++
        meta + ("schema" -> unioned.json) ++
        (if (effStats.nonEmpty) Map("statscols" -> effStats.mkString(","))
         else curMeta.get("statscols").map("statscols" -> _)) ++
        (if (cm.nonEmpty) Map("colmap" -> colmapJson(cm)) else Map.empty) ++
        curMeta.get("dropped").map("dropped" -> _)
      // one rename publishes vectors AND epoch files atomically; prior
      // lines carried verbatim (shard refs stay refs)
      val lines = (allMeta.toSeq.sortBy(_._1).map { case (k, v2) => s"#$k=$v2" } ++
        rawCarryLines(spark, root, s.version) ++ newLines ++ dvLines)
        .mkString("", "\n", "\n")
      val lost = currentVersion(spark, root) != s.version || {
        val tmp = new Path(manifestDir(root), s".v${s.version + 1}-$nonce.tmp")
        val out = f.create(tmp, true)
        try out.write(lines.getBytes(StandardCharsets.UTF_8)) finally out.close()
        val renamed = f.rename(tmp,
          new Path(manifestDir(root), s"v${s.version + 1}.manifest"))
        if (!renamed) f.delete(tmp, false)
        !renamed
      }
      if (!lost) return s.version + 1
      // lost the race: drop our vectors (re-derived next attempt),
      // KEEP the staged data files — they are attempt-independent
      f.delete(new Path(root, dvDirRel), true)
      attempt += 1
      if (attempt > maxRetries) {
        dropStaged()
        throw new ConcurrentCommitException(
          s"upsertStagedFiles at $root lost $attempt commit races")
      }
    }
    sys.error("unreachable")
  }

  /** PHYSICAL-named variant of a logical write schema under mapping
    * `cm` — what a staged writer's parquet files must store
    * ([[commitStagedFiles]]). */
  def physicalWriteSchema(cm: Map[String, String],
                          logical: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = physStruct(cm, logical)

  /** Evolved schema of the next version: the previous schema's fields
    * (in order) plus `next`'s NEW fields appended. A field present in
    * both must keep its type — silent type rewrites are data
    * corruption, not evolution. */
  /** `dt` with every nested struct field / array element / map value
    * marked nullable — the shape a parquet scan actually serves. */
  private def relaxNullability(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = dt match {
    case st: org.apache.spark.sql.types.StructType =>
      org.apache.spark.sql.types.StructType(st.fields.map(f =>
        f.copy(dataType = relaxNullability(f.dataType), nullable = true)))
    case at: org.apache.spark.sql.types.ArrayType =>
      at.copy(elementType = relaxNullability(at.elementType),
        containsNull = true)
    case mt: org.apache.spark.sql.types.MapType =>
      mt.copy(valueType = relaxNullability(mt.valueType),
        valueContainsNull = true)
    case other => other
  }

  private def unionSchema(prev: Option[org.apache.spark.sql.types.StructType],
                          next: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = prev match {
    case None => next
    case Some(p) =>
      // types must agree MODULO NESTED NULLABILITY (a struct literal's
      // non-null inner field vs the committed nullable one is the same
      // column); a real mismatch keeps throwing. On a nullability-only
      // difference the committed field RELAXES to nullable — the only
      // direction that is always read-safe.
      for (f <- next.fields; pf <- p.fields.find(_.name == f.name))
        require(relaxNullability(pf.dataType) == relaxNullability(f.dataType),
          s"column ${f.name}: type ${f.dataType} != committed ${pf.dataType}")
      org.apache.spark.sql.types.StructType(
        p.fields.map { pf =>
          next.fields.find(_.name == pf.name) match {
            case Some(f) if f.dataType != pf.dataType =>
              pf.copy(dataType = relaxNullability(pf.dataType))
            case _ => pf
          }
        } ++ next.fields.filter(f => !p.fieldNames.contains(f.name)))
  }

  /** JSON-string escape for stats values: the manifest is
    * line-oriented and tab-split, so control chars (tab included)
    * MUST ride escaped. */
  private def jesc(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case '\r' => "\\r"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""

  private def commitCore(df: DataFrame, root: String,
                         meta: Map[String, String], expectBase: Long,
                         carriedLines: Long => Seq[String],
                         unionWithPrev: Boolean,
                         statsCols: Seq[String] = Nil): Long = {
    require(meta.forall { case (k, v) =>
      !k.contains("=") && !(k + v).exists(c => c == '\n' || c == '\r') },
      "meta keys/values must be line-safe")
    require(!meta.contains("schema"), "meta key 'schema' is reserved")
    require(!meta.contains("statscols"), "meta key 'statscols' is reserved")
    require(!meta.contains("colmap"), "meta key 'colmap' is reserved")
    require(!meta.contains("dropped"), "meta key 'dropped' is reserved")
    val spark = df.sparkSession
    val f = fs(spark, root)
    f.mkdirs(manifestDir(root))
    // unique, immutable data directory for this commit's files
    val nonce = java.util.UUID.randomUUID.toString.take(8)
    val base = currentVersion(spark, root)
    if (expectBase >= 0 && base != expectBase)
      throw new ConcurrentCommitException(
        s"table at $root moved to v$base (expected v$expectBase) before write")
    // data files are written under PHYSICAL column names — a renamed
    // column keeps its original on-disk name forever, so every file
    // of the table agrees and rename stays metadata-only
    val cm = columnMapping(spark, root, base)
    val dfPhys = toPhysical(df, cm)
    // fail BEFORE writing when a new logical column would land on a
    // physical PATH a renamed or dropped column still owns on disk
    // (re-checked against the winner's meta in the commit loop)
    locally {
      val unioned0 = if (unionWithPrev && base > 0)
        unionSchema(tableSchema(spark, root, base), df.schema)
      else df.schema
      val dropped0 = manifestMeta(spark, root, base).get("dropped").toSeq
        .flatMap(_.split(",")).filter(_.nonEmpty).toSet
      val phys0 = allPhysPaths(cm, unioned0)
      if (phys0.distinct.length != phys0.length ||
          phys0.exists(dropped0.contains))
        throw new IllegalArgumentException(
          s"physical column collision at $root: a new column reuses a " +
            s"renamed or dropped column's on-disk name " +
            s"(${phys0.mkString(", ")}; dropped: ${dropped0.mkString(", ")})")
    }
    // stats columns: explicit (logical — translated to the stable
    // physical PATH), or inherited from the current manifest (already
    // physical) so MERGE/DELETE/compact/append rewrites keep skipping
    // working without each caller re-stating the table's layout
    val effStats = (if (statsCols.nonEmpty)
        statsCols.map(physPathAt(cm, df.schema, _))
      else manifestMeta(spark, root, base)
        .get("statscols").toSeq.flatMap(_.split(",")).filter(_.nonEmpty))
      .filter(p => fieldAtPath(dfPhys.schema, p).isDefined)
    val dataDir = new Path(root, s"data/c${base + 1}-$nonce")
    // r17 (guide §2.6 — don't re-scan what the write already saw):
    // declared CHECK constraints ride the WRITE action itself as
    // observe metrics (per-constraint violation sums over the LOGICAL
    // frame, missing table columns widened to their existence
    // defaults exactly as enforceConstraints does), replacing the
    // separate commit-sized read-back scan. The widened helper columns
    // are projected away before toPhysical, so the written files are
    // byte-identical. The write's own queryExecution holds stale
    // metrics, so they are read from the Observation's listener-fed
    // future, with one bounded wait. A timeout (or a constraint set
    // that changed under the write) falls back to publishStaged's
    // scan — never a skipped gate.
    val declaredAtWrite = constraintsOf(spark, root, base).toSeq.sortBy(_._1)
    val cObs =
      if (declaredAtWrite.isEmpty) None
      else Some(org.apache.spark.sql.Observation())
    val dfObserved = cObs match {
      case None => df
      case Some(obs) =>
        val existsKey = org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
          .EXISTS_DEFAULT_COLUMN_METADATA_KEY
        val missing = tableSchema(spark, root, base).toSeq.flatMap(sc =>
          sc.fields.filterNot(f => df.columns.contains(f.name)))
        val widened = missing.foldLeft(df)((d, fld) => d.withColumn(fld.name,
          (if (fld.metadata.contains(existsKey))
             expr(fld.metadata.getString(existsKey))
           else lit(null)).cast(fld.dataType)))
        val aggs = declaredAtWrite.zipWithIndex.map { case ((_, p), i) =>
          sum(when(expr(p).isNull || expr(p), 0L).otherwise(1L)).as(s"__c$i")
        } :+ org.apache.spark.sql.functions.count(lit(1)).as("__n")
        widened.observe(obs, aggs.head, aggs.tail: _*)
          .select(df.columns.toSeq.map(topCol): _*)
    }
    val dfPhysW = toPhysical(dfObserved, cm)
    // nothing references the staged files until publishStaged: any
    // failure before it drops them
    val (preValidated, written) = try {
      dfPhysW.write.parquet(dataDir.toString)
      val pre = cObs.flatMap { obs =>
        scala.util.Try(scala.concurrent.Await.result(obs.future,
            scala.concurrent.duration.Duration(2, "s"))).toOption.map { m =>
          // metrics are (__c0 .. __c{k-1}, __n); a sum over zero rows is null
          def asLong(i: Int): Long = if (m.isNullAt(i)) 0L else m.getLong(i)
          val total = asLong(declaredAtWrite.size)
          failConstraints(declaredAtWrite.zipWithIndex.flatMap { case ((n, _), i) =>
            val v = asLong(i)
            if (v > 0) Some((n, v, total)) else None
          }, root, "write")
          declaredAtWrite.toMap
        }
      }
      val writtenStatus = f.listStatus(dataDir)
        .filter(_.getPath.getName.endsWith(".parquet")).sortBy(_.getPath.getName)
      (pre, writtenStatus
        .map(st => s"data/c${base + 1}-$nonce/${st.getPath.getName}")
        .toSeq.zip(writtenStatus.map(_.getLen).toSeq))
    } catch { case e: Throwable => f.delete(dataDir, true); throw e }
    publishStaged(spark, root, written, df.schema, dfPhys.schema, cm,
      meta, expectBase, carriedLines, unionWithPrev, effStats,
      cleanupDirs = Seq(dataDir), constraintsPreValidated = preValidated)
  }

  /** Publish ALREADY-WRITTEN parquet files (`written`: (relPath,
    * bytes), physical-named columns under `cm`) as one manifest
    * commit: compute the per-file stats lines with one distributed
    * pass over the new files only, then run the OCC commit loop. The
    * tail of [[commitCore]], factored out so the STREAMING WRITE
    * (whose executors write their epoch's files directly through the
    * DSv2 writer — the driver never re-shuffles the data) lands on the
    * exact same publish path as every batch commit. `cleanupDirs` are
    * dropped when the commit aborts (lost race / collision). */
  /** Per-file manifest lines for freshly-written files: min/max for
    * the stats columns — the data-skipping index [[fileStats]]
    * serves. One extra scan of THIS COMMIT's files only (commit-
    * sized, never table-sized; the parquet footers hold the same
    * numbers, but one distributed pass over the fresh files avoids
    * per-file footer opens on the driver and handles every type Spark
    * can min/max). Collect is bounded by files-per-commit — the
    * manifest-sized planner read. */
  private def statLines(spark: SparkSession, root: String,
                        written: Seq[(String, Long)],
                        physSchema: org.apache.spark.sql.types.StructType,
                        effStats: Seq[String],
                        sizeByName: Map[String, Long]): Seq[String] =
    if (effStats.isEmpty || written.isEmpty)
      written.map { case (rel, _) =>
        val nm = new Path(rel).getName
        s"""$rel\t{"#bytes":${sizeByName(nm)}}"""
      }
    else {
      val aggs = effStats.flatMap(c => Seq(
        org.apache.spark.sql.functions.min(colRef(physSchema, c))
          .cast("string").as(s"__mn_$c"),
        org.apache.spark.sql.functions.max(colRef(physSchema, c))
          .cast("string").as(s"__mx_$c"))) :+
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("__nrows")
      val rows = spark.read
        .parquet(written.map(w => new Path(root, w._1).toString): _*)
        .groupBy(input_file_name().as("__f"))
        .agg(aggs.head, aggs.tail: _*)
        .collect()
      val byName = rows.map { r =>
        val name = new Path(r.getString(0)).getName
        // "#rows" can never collide with a column: the '#' prefix is
        // reserved (manifest meta convention). fileStats' min/max
        // parser skips non-array values, so old readers ignore it.
        val json = (effStats.map { c =>
          val mn = r.getAs[String](s"__mn_$c"); val mx = r.getAs[String](s"__mx_$c")
          val v = if (mn == null || mx == null) "null" else s"[${jesc(mn)},${jesc(mx)}]"
          s"${jesc(c)}:$v"
        } :+ s""""#rows":${r.getAs[Long]("__nrows")}"""
          :+ s""""#bytes":${sizeByName.getOrElse(name, 0L)}""").mkString("{", ",", "}")
        name -> json
      }.toMap
      written.map { case (rel, _) =>
        val nm = new Path(rel).getName
        byName.get(nm).map(j => s"$rel\t$j")
          .getOrElse(s"""$rel\t{"#bytes":${sizeByName(nm)}}""")
      }
    }

  /** [[statLines]] + the CHECK-constraint gate in ONE distributed pass
    * over this commit's files (r17; previously two commit-sized
    * scans). Stats aggregate the PHYSICAL columns (aliased, so the
    * min/max strings match [[statLines]] byte-for-byte); constraints
    * evaluate under LOGICAL names with [[enforceConstraints]]'
    * missing-column existence-default widening, summed per file and
    * totaled on the driver. Throws [[failConstraints]]' error on
    * violation — the caller drops the staged files. */
  private def fusedStatConstraintLines(spark: SparkSession, root: String,
      written: Seq[(String, Long)],
      logicalSchema: org.apache.spark.sql.types.StructType,
      physSchema: org.apache.spark.sql.types.StructType,
      cm: Map[String, String], effStats: Seq[String],
      sizeByName: Map[String, Long],
      declared: Seq[(String, String)]): Seq[String] = {
    val raw = spark.read.schema(physSchema)
      .parquet(written.map(w => new Path(root, w._1).toString): _*)
    val logicalCols = logicalSchema.fields.zip(physSchema.fields).map {
      case (lf, pf) =>
        if (pf.dataType == lf.dataType) topCol(pf.name).as(lf.name)
        else topCol(pf.name).cast(relaxNullability(lf.dataType)).as(lf.name)
    }.toSeq
    val existsKey = org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
      .EXISTS_DEFAULT_COLUMN_METADATA_KEY
    val widened = tableSchema(spark, root).toSeq.flatMap(sc =>
      sc.fields.filterNot(f => logicalSchema.fieldNames.contains(f.name)))
      .map(f => (if (f.metadata.contains(existsKey))
          expr(f.metadata.getString(existsKey))
        else lit(null)).cast(f.dataType).as(f.name))
    val statCols = effStats.zipWithIndex.map { case (c, i) =>
      colRef(physSchema, c).as(s"__st_$i") }
    val combined = raw.select(logicalCols ++ widened ++ statCols: _*)
    val aggs = effStats.zipWithIndex.flatMap { case (c, i) => Seq(
        org.apache.spark.sql.functions.min(col(s"__st_$i"))
          .cast("string").as(s"__mn_$c"),
        org.apache.spark.sql.functions.max(col(s"__st_$i"))
          .cast("string").as(s"__mx_$c")) } ++
      declared.zipWithIndex.map { case ((_, p), i) =>
        sum(when(expr(p).isNull || expr(p), 0L).otherwise(1L)).as(s"__c$i") } :+
      org.apache.spark.sql.functions.count(lit(1)).as("__nrows")
    val rows = combined.groupBy(input_file_name().as("__f"))
      .agg(aggs.head, aggs.tail: _*).collect()
    val total = rows.map(_.getAs[Long]("__nrows")).sum
    failConstraints(declared.zipWithIndex.flatMap { case ((n, _), i) =>
      val v = rows.map(r =>
        Option(r.getAs[Any](s"__c$i")).map(_.toString.toLong).getOrElse(0L)).sum
      if (v > 0) Some((n, v, total)) else None
    }, root, "write")
    val byName = rows.map { r =>
      val name = new Path(r.getString(0)).getName
      val json = (effStats.map { c =>
        val mn = r.getAs[String](s"__mn_$c"); val mx = r.getAs[String](s"__mx_$c")
        val v = if (mn == null || mx == null) "null" else s"[${jesc(mn)},${jesc(mx)}]"
        s"${jesc(c)}:$v"
      } :+ s""""#rows":${r.getAs[Long]("__nrows")}"""
        :+ s""""#bytes":${sizeByName.getOrElse(name, 0L)}""").mkString("{", ",", "}")
      name -> json
    }.toMap
    written.map { case (rel, _) =>
      val nm = new Path(rel).getName
      byName.get(nm).map(j => s"$rel\t$j")
        .getOrElse(s"""$rel\t{"#bytes":${sizeByName(nm)}}""")
    }
  }

  private def publishStaged(spark: SparkSession, root: String,
                            written: Seq[(String, Long)],
                            logicalSchema: org.apache.spark.sql.types.StructType,
                            physSchema: org.apache.spark.sql.types.StructType,
                            cm: Map[String, String],
                            meta: Map[String, String], expectBase: Long,
                            carriedLines: Long => Seq[String],
                            unionWithPrev: Boolean,
                            effStats: Seq[String],
                            cleanupDirs: Seq[Path],
                            skipIfBatchAtLeast: Option[(String, Long)] = None,
                            constraintsPreValidated: Option[Map[String, String]] = None): Long = {
    val f = fs(spark, root)
    val nonce = java.util.UUID.randomUUID.toString.take(8)
    // every committed line records its byte size: [[compactSmall]]
    // then finds its candidates from the manifest alone, no per-file
    // RPCs
    val sizeByName = written.map { case (rel, len) =>
      new Path(rel).getName -> len }.toMap
    def dropStaged(): Unit = cleanupDirs.foreach(d => f.delete(d, true))
    // round 16: declared CHECK constraints gate the publish — one
    // vectorized pass over THIS COMMIT's files only (commit-sized,
    // never table-sized; rewrites validate exactly their touched
    // footprint); a violation drops the staged files and aborts with
    // per-constraint counts, leaving the table unchanged. Evaluated
    // under LOGICAL names so constraints survive renames; table
    // columns this write omits evaluate as NULL — what the committed
    // files would serve — so `c IS NOT NULL` rightly rejects a write
    // omitting a mandatory column.
    //
    // r17 (guide §1.2 — one pass where one pass serves): when the
    // commit ALSO computes per-file stats, the constraint sums ride
    // the SAME per-file aggregate scan instead of a second
    // commit-sized pass; stat strings and violation semantics are
    // byte-identical to the unfused paths.
    val declared = constraintsOf(spark, root).toSeq.sortBy(_._1)
    // the write-riding fold (commitCore) already proved THESE
    // constraints hold over the staged rows — re-validate only if the
    // declared set changed under the write (racing ADD CONSTRAINT) or
    // the fold's listener timed out
    val needGate = declared.nonEmpty && written.nonEmpty &&
      !constraintsPreValidated.contains(declared.toMap)
    val fused = needGate && effStats.nonEmpty
    val writtenLines: Seq[String] =
      if (fused)
        try fusedStatConstraintLines(spark, root, written, logicalSchema,
          physSchema, cm, effStats, sizeByName, declared)
        catch { case e: Throwable => dropStaged(); throw e }
      else statLines(spark, root, written, physSchema, effStats, sizeByName)
    if (!fused && needGate) {
      val raw = spark.read.schema(physSchema)
        .parquet(written.map(w => new Path(root, w._1).toString): _*)
      val logicalView =
        if (cm.isEmpty) raw
        else raw.select(logicalSchema.fields.zip(physSchema.fields).map {
          case (lf, pf) =>
            if (pf.dataType == lf.dataType) topCol(pf.name).as(lf.name)
            else topCol(pf.name).cast(relaxNullability(lf.dataType)).as(lf.name)
        }.toSeq: _*)
      try enforceConstraints(logicalView, declared,
        tableSchema(spark, root), root, "write")
      catch { case e: Throwable => dropStaged(); throw e }
    }
    // commit loop: build the manifest (file list AND schema) against
    // the CURRENT version each attempt, so an append that loses a race
    // re-reads the winner's list and evolves the winner's schema
    var committed = -1L
    while (committed < 0) {
      val cur = currentVersion(spark, root)
      // streaming-epoch idempotence, checked INSIDE the loop so it
      // re-evaluates against each rename attempt's winner: a replayed
      // (or zombie-raced) epoch whose id THIS WRITER's watermark
      // already covers publishes nothing — exactly-once without
      // trusting any check made before the serialization point. The
      // comparison is against the CALLER's own `batch.<queryId>` key
      // (round 16), so a second concurrent writer's higher epochs can
      // never mute this one's commits.
      if (skipIfBatchAtLeast.exists { case (qid, epoch) =>
          batchWatermark(manifestMeta(spark, root, cur), qid) >= epoch }) {
        dropStaged()
        return cur
      }
      if (expectBase >= 0 && cur != expectBase) {
        // another writer won since our snapshot: abort, drop our files
        dropStaged()
        throw new ConcurrentCommitException(
          s"table at $root moved to v$cur (expected v$expectBase) at commit")
      }
      // our data files were written under the colmap read at entry —
      // if a rename/drop landed since, publishing them would mix
      // physical-name eras; abort like any other lost race
      if (columnMapping(spark, root, cur) != cm) {
        dropStaged()
        throw new ConcurrentCommitException(
          s"column mapping at $root changed under the write")
      }
      val carried = carriedLines(cur)
      val unioned = if (unionWithPrev && cur > 0)
        unionSchema(tableSchema(spark, root, cur), logicalSchema)
      else logicalSchema
      // a NEW logical column must not land on a physical name an
      // older (renamed or dropped) column still owns on disk — the
      // old files would silently serve THEIR values for it
      val curMeta = manifestMeta(spark, root, cur)
      val droppedPhys = curMeta.get("dropped").toSeq
        .flatMap(_.split(",")).filter(_.nonEmpty).toSet
      val physNames = allPhysPaths(cm, unioned)
      if (physNames.distinct.length != physNames.length ||
          physNames.exists(droppedPhys.contains)) {
        dropStaged()
        throw new IllegalArgumentException(
          s"physical column collision at $root: a new column reuses a " +
            s"renamed or dropped column's on-disk name " +
            s"(${physNames.mkString(", ")}; dropped: ${droppedPhys.mkString(", ")})")
      }
      val schemaJson = unioned.json
      // `clustering`(+bits) is a TABLE property (the declared layout),
      // not a commit note — carry it like statscols unless this
      // commit explicitly restates it. `batch` / `batch.<queryId>`
      // (rounds 15/16) carry the same way: the streaming sink's
      // exactly-once watermarks must survive interleaved maintenance
      // commits (compact/OPTIMIZE/a batch INSERT), or a crash-replayed
      // epoch after maintenance would re-append (lastBatchId would
      // read -1). `constraint.*` / `default.*` / `upsert_keys` /
      // `autocompact` (round 16) are declared table properties too.
      val carriedKeys = Seq("clustering", "clustering_bits", "batch",
        "upsert_keys", "autocompact") ++
        curMeta.keys.filter(k => k.startsWith("batch.") ||
          k.startsWith("constraint.") || k.startsWith("default.") ||
          k.startsWith("identitynext."))
      val allMeta = carriedKeys
        .flatMap(k => curMeta.get(k).map(k -> _)).toMap ++
        meta + ("schema" -> schemaJson) ++
        (if (effStats.nonEmpty) Map("statscols" -> effStats.mkString(","))
         else curMeta.get("statscols").map("statscols" -> _)) ++
        (if (cm.nonEmpty) Map("colmap" -> colmapJson(cm)) else Map.empty) ++
        curMeta.get("dropped").map("dropped" -> _)
      val lines = (allMeta.toSeq.sortBy(_._1).map { case (k, v2) => s"#$k=$v2" }
        ++ carried ++ writtenLines).mkString("", "\n", "\n")
      val tmp = new Path(manifestDir(root), s".v${cur + 1}-$nonce.tmp")
      val out = f.create(tmp, true)
      try out.write(lines.getBytes(StandardCharsets.UTF_8)) finally out.close()
      val target = new Path(manifestDir(root), s"v${cur + 1}.manifest")
      if (f.rename(tmp, target)) committed = cur + 1
      else f.delete(tmp, false) // lost the race — retry at the next version
    }
    committed
  }

  /** Keyed copy-on-write MERGE (upsert): every current row whose key
    * appears in `updates` is replaced by `updates`' rows for that key;
    * update rows with unseen keys are inserts. Only files that
    * actually CONTAIN a matching key are rewritten — the manifest
    * carries every untouched file forward unchanged, so merge cost is
    * proportional to the touched-file footprint, not the table (with
    * key-sorted/bucketed layout, a point-update rewrites one file).
    * `updates` may carry NEW columns: the schema evolves (committed
    * rows read NULL for them — see [[read]]).
    *
    * Runs under optimistic concurrency ([[commit]]'s `expectBase`):
    * derived from a pinned snapshot, retried from a FRESH snapshot if
    * another commit lands first. Returns the committed version. */
  def merge(updates: DataFrame, root: String, keys: Seq[String],
            maxRetries: Int = 5): Long = {
    require(keys.nonEmpty, "merge needs at least one key column")
    rejectStrictIdentity(updates.sparkSession, root, "MERGE")
    rewrite(updates.sparkSession, root, maxRetries) { (spark, s) =>
      // __file is captured AT SCAN STAGE, before the DV anti-join —
      // input_file_name() evaluated after a (possibly shuffled) join
      // has no file context and returns ""; physical columns come
      // back under LOGICAL names so the key join works after renames
      val curLive = scanLogical(spark, root, s.version, s.files, raw =>
        applyDv(spark, root, s.version,
          raw.withColumn("__file", input_file_name())))
      keys.foreach(k => require(curLive.columns.contains(k) && updates.columns.contains(k),
        s"key column $k must exist on both sides"))
      val keyRows = updates.select(keys.map(col): _*).distinct()
      // which snapshot files hold a matching LIVE key (file-name
      // collect is manifest-bounded, the documented stats-collect
      // pattern). Qualify through the filesystem: input_file_name
      // carries a scheme, manifest resolution does not (vacuum's rule).
      val f = fs(spark, root)
      val touched = curLive
        .join(keyRows, keys, "left_semi")
        .select("__file").distinct().collect()
        .map(r => f.makeQualified(new Path(r.getString(0))).toString).toSet
      val (touchedAbs, untouchedAbs) =
        s.files.partition(p => touched.contains(f.makeQualified(new Path(p)).toString))
      val newRows =
        if (touchedAbs.isEmpty) updates // pure insert: no file rewrites
        else {
          // DV-applied: a rewritten file's deletion vectors fold into
          // the rewrite here (its dv lines are then dropped)
          val kept = scanLogical(spark, root, s.version, touchedAbs,
              raw => applyDv(spark, root, s.version, raw))
            .join(keyRows, keys, "left_anti")
          kept.unionByName(updates, allowMissingColumns = true)
        }
      (newRows, untouchedAbs)
    }
  }

  /** CONDITIONAL merge (round 15) — the general MERGE shape the SQL
    * surface lowers richer statements onto, and the natural CONSUMER
    * of the graft-cdc feed:
    *
    * {{{
    *   MERGE INTO t USING cdc ON t.k = cdc.k
    *     WHEN MATCHED AND cdc._change_type = 'delete' THEN DELETE
    *     WHEN MATCHED THEN UPDATE SET *
    *     WHEN NOT MATCHED AND cdc._change_type <> 'delete' THEN INSERT *
    * }}}
    *
    * `srcPrep` is the PRE-SHAPED source: the key columns, `__act`
    * (index of the first WHEN MATCHED clause whose condition holds for
    * this source row, −1 = none — conditions are source-side, so they
    * evaluate before the join), `__iact` (same for WHEN NOT MATCHED),
    * and each clause's assigned values as `__u<i>__<col>` /
    * `__i<j>__<col>` columns. `matched(i)` is None for a DELETE clause
    * or Some(assigned column names) for UPDATE; `notMatched(j)` lists
    * the INSERT clause's assigned columns. First-match-wins clause
    * order (the standard MERGE semantics; `__act` encodes it).
    *
    * `bySource` (round 15b) carries the WHEN NOT MATCHED BY SOURCE
    * clauses — applied to TARGET rows whose key has no source row,
    * first-match-wins like the others, but conditions and assignment
    * values are TARGET-side SQL strings evaluated against the live
    * row (they cannot be pre-shaped on the source): `(cond, None)` =
    * DELETE, `(cond, Some(col -> expr))` = UPDATE. The full-sync
    * idiom — `WHEN NOT MATCHED BY SOURCE THEN DELETE` makes the
    * target mirror the source exactly — and its documented cost: an
    * unconditional BY SOURCE clause touches every file holding an
    * unmatched row.
    *
    * `targetCond` (round 16) is the ON clause's TARGET-SIDE residual
    * predicate (`ON t.k = s.k AND t.ds = '2024-01'`): MATCHED means
    * key-equal AND predicate-true (NULL-as-false), a pred-false
    * target row is unmatched (BY SOURCE sees it; a source key
    * matching only pred-false rows inserts), and the predicate
    * narrows the copy-on-write file set — it reaches the parquet scan,
    * so a clustered table's out-of-range files never rewrite.
    *
    * Copy-on-write like [[merge]]: only files holding a live row whose
    * key has an APPLICABLE matched clause (or an applicable BY SOURCE
    * row) are rewritten; matched rows
    * with no applicable clause — and every row of every other file —
    * carry forward untouched. The source must be key-unique among
    * keys that MATCH a live target row (the standard MERGE cardinality
    * contract, checked; duplicate UNMATCHED keys legitimately insert
    * one row each — round 16, was a global rejection). Same OCC/retry
    * contract. */
  def mergeApply(srcPrep: DataFrame, root: String, keys: Seq[String],
                 matched: Seq[Option[Seq[String]]],
                 notMatched: Seq[Seq[String]],
                 bySource: Seq[(Option[String], Option[Seq[(String, String)]])] = Nil,
                 targetCond: Option[String] = None,
                 maxRetries: Int = 5): Long = {
    require(keys.nonEmpty, "mergeApply needs at least one key column")
    require(matched.nonEmpty || notMatched.nonEmpty || bySource.nonEmpty,
      "no WHEN clauses")
    rejectStrictIdentity(srcPrep.sparkSession, root, "MERGE")
    val deleteIdx = matched.zipWithIndex.collect { case (None, i) => i }
    val bDeleteIdx = bySource.zipWithIndex.collect { case ((_, None), i) => i }
    rewrite(srcPrep.sparkSession, root, maxRetries) { (spark, s) =>
      val curLive = scanLogical(spark, root, s.version, s.files, raw =>
        applyDv(spark, root, s.version,
          raw.withColumn("__file", input_file_name())))
      keys.foreach(k => require(
        curLive.columns.contains(k) && srcPrep.columns.contains(k),
        s"key column $k must exist on both sides"))
      val targetCols = curLive.columns.filterNot(_ == "__file").toSeq
      // round 16: a compound ON carries a TARGET-SIDE residual
      // predicate (`ON t.k = s.k AND t.ds = '2024-01'`) — MATCHED
      // means key-equal AND predicate-true; a pred-false target row
      // is unmatched (BY SOURCE clauses see it, and a source row
      // whose key exists only among pred-false rows inserts). The
      // predicate is evaluated under NULL-as-false (SQL WHERE
      // semantics). Target rows that are MATCHED under the predicate
      // narrow the copy-on-write file set: the filter reaches the
      // parquet scan, so a clustered table's out-of-range files are
      // row-group-pruned at plan time and never enter `touched`.
      val predT: org.apache.spark.sql.Column =
        targetCond.map(t => coalesce(expr(t), lit(false))).getOrElse(lit(true))
      // first applicable BY SOURCE clause for an UNMATCHED target row
      // (target-side conditions — evaluable on curLive/the join alike)
      val bIdxExpr = bySource.zipWithIndex
        .foldRight(lit(-1)) { case (((cond, _), i), rest) =>
          cond.map(t => when(expr(t), lit(i)).otherwise(rest))
            .getOrElse(lit(i))
        }
      // cardinality: at most one source row per key AMONG KEYS THAT
      // MATCH A LIVE TARGET ROW — multiple updates to one target row
      // are ambiguous (the standard/Delta MERGE error), but duplicate
      // UNMATCHED source keys legitimately insert one row each, so
      // they pass through to the insert leg instead of failing the
      // whole statement (round 16; was a global duplicate rejection)
      // files holding a live MATCHED row whose key has an APPLICABLE
      // clause — or, with BY SOURCE clauses, an unmatched row an
      // applicable clause hits (file-name collect is manifest-bounded,
      // the documented stats-collect pattern; qualified like vacuum's
      // rule)
      val f = fs(spark, root)
      val touched: Set[String] = if (bySource.isEmpty) {
        // r17 (guide §1.2): the cardinality check and the touched-file
        // collect each scanned the full live table — fold them into
        // ONE job. Per-key source info (row count, any-applicable-
        // clause flag) joins the pred-true live rows once; the
        // touched-file set and one offending duplicate key (if any)
        // ride back in a single aggregate row. Semantics identical:
        // dup ⟺ a >1-row source key matches a live pred-true row;
        // touched ⟺ a live pred-true row's key has an applicable
        // matched clause.
        val srcInfo = srcPrep.groupBy(keys.map(topCol): _*).agg(
          org.apache.spark.sql.functions.count(lit(1)).as("__sn"),
          org.apache.spark.sql.functions.max(
            when(col("__act") >= 0, 1).otherwise(0)).as("__sa"))
        val r = curLive.filter(predT).join(srcInfo, keys, "inner").agg(
          collect_set(when(col("__sa") === 1, col("__file"))).as("__tf"),
          org.apache.spark.sql.functions.min(when(col("__sn") > 1,
            struct(keys.map(topCol): _*))).as("__dup")).head()
        if (!r.isNullAt(1)) {
          val dk = r.getStruct(1)
          throw new IllegalArgumentException(
            s"MERGE source has multiple rows for matched key " +
              keys.zip(dk.toSeq).map { case (k, v) => s"$k=$v" }
                .mkString(", ") + " — reduce the source to one row per key")
        }
        r.getSeq[String](0).map(p => f.makeQualified(new Path(p)).toString).toSet
      } else {
        val dupKeys = srcPrep.groupBy(keys.map(topCol): _*)
          .agg(org.apache.spark.sql.functions.count(lit(1)).as("__n"))
          .filter(col("__n") > 1)
        val dup = dupKeys.join(
            curLive.filter(predT).select(keys.map(topCol): _*).distinct(),
            keys, "left_semi").limit(1).collect()
        if (dup.nonEmpty) throw new IllegalArgumentException(
          s"MERGE source has multiple rows for matched key " +
            keys.zip(dup.head.toSeq).map { case (k, v) => s"$k=$v" }
              .mkString(", ") + " — reduce the source to one row per key")
        val actKeys = srcPrep.filter(col("__act") >= 0)
          .select(keys.map(topCol): _*).distinct()
        val touchedMatched = curLive.filter(predT).join(actKeys, keys, "left_semi")
          .select("__file").distinct()
        val touchedFiles =
          if (targetCond.isEmpty) touchedMatched.unionByName(
            curLive.join(srcPrep.select(keys.map(topCol): _*).distinct(),
                keys, "left_anti")
              .filter(bIdxExpr >= 0)
              .select("__file").distinct()).distinct()
          else {
            // with a residual predicate, "unmatched by source" includes
            // pred-FALSE rows whose key IS in the source — the anti-join
            // shape can't express that, so mark and filter
            val unmatchedRows = curLive.join(
                srcPrep.select(keys.map(topCol): _*).distinct()
                  .withColumn("__srck", lit(1)), keys, "left")
              .filter(col("__srck").isNull || !predT)
            touchedMatched.unionByName(
              unmatchedRows.filter(bIdxExpr >= 0)
                .select("__file").distinct()).distinct()
          }
        touchedFiles.collect()
          .map(r => f.makeQualified(new Path(r.getString(0))).toString).toSet
      }
      val (touchedAbs, untouchedAbs) =
        s.files.partition(p => touched.contains(f.makeQualified(new Path(p)).toString))
      // rewritten files: per row, the first applicable clause decides —
      // DELETE drops it, UPDATE swaps the assigned columns (matched:
      // to the source values; BY SOURCE: to target-side expressions),
      // no applicable clause keeps the row verbatim
      val kept =
        if (touchedAbs.isEmpty) read(spark, root, s.version).limit(0)
        else {
          val live = scanLogical(spark, root, s.version, touchedAbs,
            raw => applyDv(spark, root, s.version, raw))
          // __mt: MATCHED under both the key join and the residual
          // predicate, null-safed to a strict boolean (a left-join
          // miss makes `__m === 1` NULL, and `!NULL` is NULL — an
          // unguarded negation would silently drop unmatched rows
          // from the BY SOURCE legs)
          val j = live.join(
              srcPrep.withColumn("__m", lit(1)), keys, "left")
            .withColumn("__mt", coalesce(
              targetCond.map(t => col("__m") === 1 && expr(t))
                .getOrElse(col("__m") === 1), lit(false)))
            .withColumn("__bact",
              if (bySource.isEmpty) lit(-1)
              else when(!col("__mt"), bIdxExpr).otherwise(lit(-1)))
          val noDelete =
            (if (deleteIdx.isEmpty) lit(true)
             else !col("__mt") || !col("__act").isin(deleteIdx: _*)) &&
            (if (bDeleteIdx.isEmpty) lit(true)
             else !col("__bact").isin(bDeleteIdx: _*))
          j.filter(noDelete).select(targetCols.map { c =>
            val matchedWhens = matched.zipWithIndex.collect {
              case (Some(set), i) if set.contains(c) => i
            }.foldRight(topCol(c)) { (i, rest) =>
              when(col("__mt") && col("__act") === i,
                topCol(s"__u${i}__$c")).otherwise(rest)
            }
            bySource.zipWithIndex.collect {
              case ((_, Some(set)), i) if set.exists(_._1 == c) =>
                (i, set.find(_._1 == c).get._2)
            }.foldRight(matchedWhens) { case ((i, e), rest) =>
              when(col("__bact") === i, expr(e)).otherwise(rest)
            }.as(c)
          }: _*)
        }
      // inserts: unmatched-key source rows whose first applicable NOT
      // MATCHED clause provides the row (key anti-join against the
      // MATCHED live key set — pred-true under a residual ON
      // predicate; a matched key whose clauses all passed is still
      // matched, never an insert, while a key existing only among
      // pred-false rows IS unmatched and inserts)
      val liveKeys = curLive.filter(predT).select(keys.map(topCol): _*).distinct()
      val inserts = srcPrep.filter(col("__iact") >= 0)
        .join(liveKeys, keys, "left_anti")
        .select(targetCols.map { c =>
          // a column no insert clause assigns lands NULL, typed to the
          // target column so the union lines up
          val base = lit(null).cast(curLive.schema(c).dataType)
          notMatched.zipWithIndex.collect {
            case (set, j) if set.contains(c) => j
          }.foldRight(base) { (j, rest) =>
            when(col("__iact") === j, topCol(s"__i${j}__$c")).otherwise(rest)
          }.as(c)
        }: _*)
      (kept.unionByName(inserts, allowMissingColumns = true), untouchedAbs)
    }
  }

  /** Row-level DELETE: rewrites only the files containing rows that
    * match `predicate` (SQL expression string); every other file is
    * carried forward untouched. Same OCC/retry contract as [[merge]].
    * Returns the committed version. */
  def deleteWhere(spark: SparkSession, root: String, predicate: String,
                  maxRetries: Int = 5): Long =
    rewrite(spark, root, maxRetries) { (sp, s) =>
      // __file captured at scan stage — see [[merge]]'s note; the
      // predicate evaluates over LOGICAL names
      val curLive = scanLogical(sp, root, s.version, s.files, raw =>
        applyDv(sp, root, s.version,
          raw.withColumn("__file", input_file_name())))
      val f = fs(sp, root)
      val touched = curLive
        .filter(predicate)
        .select("__file").distinct().collect()
        .map(r => f.makeQualified(new Path(r.getString(0))).toString).toSet
      val (touchedAbs, untouchedAbs) =
        s.files.partition(p => touched.contains(f.makeQualified(new Path(p)).toString))
      val kept =
        if (touchedAbs.isEmpty) read(sp, root, s.version).limit(0)
        else scanLogical(sp, root, s.version, touchedAbs,
          raw => applyDv(sp, root, s.version, raw)).filter(s"NOT ($predicate)")
      (kept, untouchedAbs)
    }

  /** Row-level DELETE, merge-on-read: records the matching rows'
    * (file, position) pairs in a DELETION-VECTOR parquet and commits a
    * manifest that references it — NO data file is rewritten (contrast
    * [[deleteWhere]]'s copy-on-write, whose rewrite amplification
    * bites high-churn CDC tables: a 100-row delete can rewrite
    * 100 × 1 GB of files). Readers subtract the vectors at scan time
    * ([[read]]/[[readRange]]); [[compact]] folds them in (it reads
    * DV-applied and overwrite-commits, dropping the dv lines); time
    * travel sees each era's vectors because a manifest references
    * exactly the vectors of its version. Same OCC/retry contract as
    * [[merge]]. Returns the committed version — or the CURRENT version
    * unchanged when nothing matches (no empty commits). */
  def deleteWhereDv(spark: SparkSession, root: String, predicate: String,
                    maxRetries: Int = 5): Long = {
    val f = fs(spark, root)
    var attempt = 0
    while (true) {
      val s = snapshot(spark, root)
      // (file, pos) of predicate matches among LIVE rows only —
      // re-deleting an already-vectored row must not grow the vectors;
      // the predicate evaluates over LOGICAL names
      val base = scanLogical(spark, root, s.version, s.files, raw => raw
        .withColumn("__dvf", expr("substring_index(input_file_name(), '/', -3)"))
        .withColumn("__dvp", col("_metadata.row_index").cast("long")))
      val dvs = dvEntries(spark, root, s.version)
      val liveRows =
        if (dvs.isEmpty) base
        else base.join(
          spark.read.parquet(dvs.map(_._2).distinct
              .map(rel => new Path(root, rel).toString): _*)
            .select(col("file").as("__dvf"), col("pos").as("__dvp")).distinct(),
          Seq("__dvf", "__dvp"), "left_anti")
      // the hit count and the touched-file set ride the hits
      // materialization (consumed twice below) as observe metrics
      // (r16): the count replaces a separate isEmpty job and
      // collect_set a distinct().collect() job (touched files are
      // manifest-bounded)
      val (hits, hm) = graft.Ckpt.cutWith(liveRows.filter(predicate)
        .select(col("__dvf").as("file"), col("__dvp").as("pos")),
        collect_set(col("file")))
      if (hm.getLong(0) == 0L) { graft.Ckpt.release(hits); return s.version }
      val nonce = java.util.UUID.randomUUID.toString.take(8)
      val dvDirRel = s"data/c${s.version + 1}-$nonce-dv"
      val dvDir = new Path(root, dvDirRel)
      // one DV file per delete commit (delete-sized, never data-sized)
      hits.coalesce(1).write.parquet(dvDir.toString)
      val dvRels = f.listStatus(dvDir)
        .filter(_.getPath.getName.endsWith(".parquet"))
        .map(st => s"$dvDirRel/${st.getPath.getName}").sorted.toSeq
      graft.Ckpt.release(hits)
      val touched = hm.getSeq[String](1).sorted
      val newDvLines = for (t <- touched; d <- dvRels) yield s"!dv\t$t\t$d"
      val metaLines = manifestMeta(spark, root, s.version).toSeq.sortBy(_._1)
        .map { case (k, v2) => s"#$k=$v2" }
      // prior lines carried VERBATIM (shard refs stay refs, dv lines
      // included): a merge-on-read delete is metadata-light even on a
      // sharded manifest
      val lines = (metaLines ++ rawCarryLines(spark, root, s.version) ++
        newDvLines).mkString("", "\n", "\n")
      val lost = currentVersion(spark, root) != s.version || {
        val tmp = new Path(manifestDir(root), s".v${s.version + 1}-$nonce.tmp")
        val out = f.create(tmp, true)
        try out.write(lines.getBytes(StandardCharsets.UTF_8)) finally out.close()
        val renamed = f.rename(tmp, new Path(manifestDir(root), s"v${s.version + 1}.manifest"))
        if (!renamed) f.delete(tmp, false)
        !renamed
      }
      if (!lost) return s.version + 1
      f.delete(dvDir, true) // lost the race: drop our vectors, re-derive
      attempt += 1
      if (attempt > maxRetries)
        throw new ConcurrentCommitException(
          s"deleteWhereDv at $root lost $attempt commit races")
    }
    sys.error("unreachable")
  }

  /** Merge-on-read UPDATE: every live row matching `predicate` gets
    * the `set` expressions applied (column → SQL expression over the
    * row, e.g. `"price" -> "price * 2"`), in ONE atomic commit that
    * records deletion vectors for the matched positions AND appends
    * the updated rows as new files — NO existing data file is
    * rewritten (the UPDATE complement of [[deleteWhereDv]]; contrast
    * [[merge]]'s copy-on-write, whose rewrite amplification a
    * high-churn CDC table cannot afford). Readers see old-version
    * rows at old versions (time travel) and updated rows at the new
    * one; [[compact]]/[[compactSmall]] fold the vectors away later.
    * Same OCC/retry contract. Returns the committed version — or the
    * current version unchanged when nothing matches. */
  def updateWhereDv(spark: SparkSession, root: String, predicate: String,
                    set: Map[String, String], maxRetries: Int = 5): Long = {
    require(set.nonEmpty, "updateWhereDv needs at least one set expression")
    val f = fs(spark, root)
    var attempt = 0
    while (true) {
      val s = snapshot(spark, root)
      val schema = tableSchema(spark, root, s.version)
      set.keys.foreach(c => require(
        schema.forall(_.fieldNames.contains(c)),
        s"set column $c not in table schema"))
      // updating a GENERATED ALWAYS identity column would corrupt the
      // sequence contract — reject precisely (BY DEFAULT stays legal:
      // writer-supplied ids are that declaration's whole point)
      val strictId = hasStrictIdentity(schema).toSet
      set.keys.foreach(c => require(!strictId.contains(c),
        s"cannot UPDATE GENERATED ALWAYS identity column $c at $root"))
      val base = scanLogical(spark, root, s.version, s.files, raw => raw
        .withColumn("__dvf", expr("substring_index(input_file_name(), '/', -3)"))
        .withColumn("__dvp", col("_metadata.row_index").cast("long")))
      val dvs = dvEntries(spark, root, s.version)
      val liveRows =
        if (dvs.isEmpty) base
        else base.join(
          spark.read.parquet(dvs.map(_._2).distinct
              .map(rel => new Path(root, rel).toString): _*)
            .select(col("file").as("__dvf"), col("pos").as("__dvp")).distinct(),
          Seq("__dvf", "__dvp"), "left_anti")
      // hit count + touched-file set ride the materialization as
      // observe metrics — see deleteWhereDv (r16)
      val (hits, hm) = graft.Ckpt.cutWith(liveRows.filter(predicate),
        collect_set(col("__dvf")))
      if (hm.getLong(0) == 0L) { graft.Ckpt.release(hits); return s.version }
      val nonce = java.util.UUID.randomUUID.toString.take(8)
      // the matched positions become a deletion vector…
      val dvDirRel = s"data/c${s.version + 1}-$nonce-dv"
      hits.select(col("__dvf").as("file"), col("__dvp").as("pos"))
        .coalesce(1).write.parquet(new Path(root, dvDirRel).toString)
      val dvRels = f.listStatus(new Path(root, dvDirRel))
        .filter(_.getPath.getName.endsWith(".parquet"))
        .map(st => s"$dvDirRel/${st.getPath.getName}").sorted.toSeq
      val touched = hm.getSeq[String](1).sorted
      val newDvLines = for (t <- touched; d <- dvRels) yield s"!dv\t$t\t$d"
      // …and the updated row versions land as fresh files. All set
      // expressions are evaluated against the PRE-update row in one
      // projection (SQL UPDATE semantics): a sequential
      // foldLeft/withColumn would let a later assignment observe an
      // earlier one's NEW value, with "later" following Map iteration
      // order — nondeterministic beyond 4 entries.
      val preUpdate = hits.drop("__dvf", "__dvp")
      val updated = preUpdate.select(preUpdate.columns.toSeq.map(c =>
        set.get(c).map(e => expr(e).as(c)).getOrElse(col(c))): _*)
      // declared CHECK constraints gate the UPDATE's new row versions
      // (update-sized pass; this path writes its own manifest and so
      // does not flow through publishStaged's gate)
      enforceConstraints(updated,
        constraintsOf(spark, root, s.version).toSeq.sortBy(_._1),
        schema, root, "UPDATE")
      val dataDirRel = s"data/c${s.version + 1}-$nonce"
      // new row versions land under PHYSICAL names like every write
      val cmU = columnMapping(spark, root, s.version)
      val updatedPhys = toPhysical(updated, cmU)
      updatedPhys.write.parquet(new Path(root, dataDirRel).toString)
      graft.Ckpt.release(hits)
      val newStatus = f.listStatus(new Path(root, dataDirRel))
        .filter(_.getPath.getName.endsWith(".parquet")).sortBy(_.getPath.getName)
      val newLines = newStatus.map(st =>
        s"""$dataDirRel/${st.getPath.getName}\t{"#bytes":${st.getLen}}""").toSeq
      val metaLines = manifestMeta(spark, root, s.version).toSeq.sortBy(_._1)
        .map { case (k, v2) => s"#$k=$v2" }
      // one rename publishes vectors AND updated rows atomically;
      // prior lines carried verbatim (shard refs stay refs)
      val lines = (metaLines ++ rawCarryLines(spark, root, s.version) ++
        newLines ++ newDvLines).mkString("", "\n", "\n")
      val lost = currentVersion(spark, root) != s.version || {
        val tmp = new Path(manifestDir(root), s".v${s.version + 1}-$nonce.tmp")
        val out = f.create(tmp, true)
        try out.write(lines.getBytes(StandardCharsets.UTF_8)) finally out.close()
        val renamed = f.rename(tmp,
          new Path(manifestDir(root), s"v${s.version + 1}.manifest"))
        if (!renamed) f.delete(tmp, false)
        !renamed
      }
      if (!lost) return s.version + 1
      f.delete(new Path(root, dvDirRel), true)
      f.delete(new Path(root, dataDirRel), true)
      attempt += 1
      if (attempt > maxRetries)
        throw new ConcurrentCommitException(
          s"updateWhereDv at $root lost $attempt commit races")
    }
    sys.error("unreachable")
  }

  /** Thrown by a rewrite `plan` to abort without committing — e.g. a
    * lost-race retry discovering a concurrent writer already did the
    * work. The loop returns the pinned version unchanged, so no-op
    * contracts hold under OCC races (no spurious empty commit). */
  private final case class RewriteNoop(version: Long)
    extends RuntimeException(s"rewrite no-op at v$version")

  /** Shared copy-on-write loop: pin a snapshot, let `plan` produce the
    * replacement rows and the untouched-file carry list, commit with
    * `expectBase` OCC, and retry the WHOLE derivation from a fresh
    * snapshot on conflict. A plan may throw [[RewriteNoop]] to return
    * the pinned version with no commit. */
  private def rewrite(spark: SparkSession, root: String, maxRetries: Int)
      (plan: (SparkSession, Snapshot) => (DataFrame, Seq[String])): Long = {
    var attempt = 0
    while (true) {
      val s = snapshot(spark, root)
      val (newRows, untouchedAbs) =
        try plan(spark, s) catch { case RewriteNoop(v) => return v }
      val rootPrefix = new Path(root).toString
      val untouchedRel = untouchedAbs.map(_.stripPrefix(rootPrefix).stripPrefix("/")).toSet
      // carry the untouched files' FULL manifest lines so their
      // recorded stats survive the rewrite — and their deletion
      // vectors (a rewritten file's vectors are folded into the
      // rewrite because its rows were read DV-applied; an untouched
      // file's must stay, or its deleted rows resurrect). Shard-aware:
      // a shard whose EVERY member is untouched is carried as its
      // verbatim @shard ref (no expansion — the selective-merge cost
      // stays O(touched shards), not O(files)); a partially touched
      // shard inlines its surviving member lines.
      val untouchedLines = manifestBody(spark, root, s.version)
        .split("\n").toSeq.flatMap { l =>
          if (l.isEmpty || l.startsWith("#") || l.startsWith("!")) Seq.empty
          else if (l.startsWith(ShardPrefix)) {
            val members = shardFileLines(spark, root, l.split('\t')(1))
            if (members.forall(m => untouchedRel.contains(lineRel(m)))) Seq(l)
            else members.filter(m => untouchedRel.contains(lineRel(m)))
          }
          else if (untouchedRel.contains(lineRel(l))) Seq(l)
          else Seq.empty
        }
      // dv lines may record their data-file field in either form: the
      // 3-part relative key (deleteWhereDv derives it from
      // input_file_name) or an absolute path (a shallow clone carries
      // the source's dv lines absolute). Compare on the 3-part key —
      // unique per table thanks to the commit nonce — so a clone's
      // vectors survive a later rewrite instead of silently dropping
      // (which would resurrect their deleted rows).
      val untouched3 = untouchedRel.map(p => p.split('/').takeRight(3).mkString("/"))
      val dvCarry = rawDvLines(spark, root, s.version)
        .filter(l => untouched3.contains(
          l.split('\t')(1).split('/').takeRight(3).mkString("/")))
      try {
        return commitCore(newRows, root, Map.empty, expectBase = s.version,
          carriedLines = _ => untouchedLines ++ dvCarry, unionWithPrev = true)
      } catch {
        case e: ConcurrentCommitException =>
          attempt += 1
          if (attempt > maxRetries) throw e
      }
    }
    sys.error("unreachable")
  }

  /** Manifest-aware compaction: rewrite the CURRENT snapshot into
    * ⌈bytes / targetFileBytes⌉ files, commit them as a new version,
    * and DELETE NOTHING — readers pinned to any earlier version keep
    * every file they reference until [[vacuum]]. Returns
    * (filesBefore, filesAfter). Contrast [[Sinks.compact]], whose
    * rename-swap assumes no concurrent reader holds the old listing.
    */
  /** (absolute path, bytes) for every live file of a snapshot: byte
    * sizes come from the manifest's recorded `"#bytes"` (one metadata
    * read); only files committed before size tracking fall back to a
    * per-file getFileStatus RPC. Public: the streaming source sizes
    * its [[org.apache.spark.sql.execution.datasources.PartitionedFile]]s
    * from it without touching the filesystem. */
  def fileSizes(spark: SparkSession, root: String,
                version: Long): Seq[(String, Long)] = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val f = fs(spark, root)
    fileLines(spark, root, version).map { l =>
      val abs = new Path(root, lineRel(l)).toString
      abs -> lineBytes(om, l).getOrElse(f.getFileStatus(new Path(abs)).getLen)
    }
  }

  def compact(spark: SparkSession, root: String,
              targetFileBytes: Long = 128L * 1024 * 1024,
              maxRetries: Int = 5): (Int, Int) = {
    // read-modify-write: the rewrite is derived from a pinned snapshot,
    // so the commit must be CONDITIONAL on that snapshot still being
    // current — otherwise an append that lands between the snapshot and
    // the manifest rename would be silently dropped (lost update). On
    // conflict the whole compaction re-snapshots and retries.
    var attempt = 0
    while (true) {
      val s = snapshot(spark, root)
      val totalBytes = fileSizes(spark, root, s.version).map(_._2).sum
      val nFiles = math.max(1L, (totalBytes + targetFileBytes - 1) / targetFileBytes).toInt
      try {
        // read via the pinned snapshot (manifest schema applied) so a
        // compaction preserves evolved columns' NULL backfill
        val v = commit(read(spark, root, s.version).repartition(nFiles),
          root, mode = "overwrite", expectBase = s.version)
        return (s.files.size, snapshot(spark, root, v).files.size)
      } catch {
        case e: ConcurrentCommitException =>
          attempt += 1
          if (attempt > maxRetries) throw e
      }
    }
    sys.error("unreachable")
  }

  /** INCREMENTAL (binpack) compaction: fold ONLY the files smaller
    * than `minFileBytes` into ~`targetFileBytes` files; every
    * right-sized file is carried forward VERBATIM (shard-aware — a
    * shard with no small member carries as its ref). This is the
    * 100-TB compaction posture: a real table accretes small files at
    * its append frontier while the overwhelming share of its bytes
    * sit in well-sized files a full [[compact]] would pointlessly
    * rewrite. Candidates come from the manifest's recorded
    * `"#bytes"` — one metadata read, no per-file listing. The folded
    * files' deletion vectors fold in (their rows are read
    * DV-applied); untouched files keep theirs. Returns the committed
    * version, or the CURRENT version unchanged when fewer than two
    * small files exist (a lone small file gains nothing from a
    * rewrite). Same OCC/retry contract as [[merge]]. */
  def compactSmall(spark: SparkSession, root: String,
                   targetFileBytes: Long = 128L * 1024 * 1024,
                   minFileBytes: Long = 32L * 1024 * 1024,
                   maxRetries: Int = 5): Long = {
    require(minFileBytes <= targetFileBytes,
      s"minFileBytes $minFileBytes > targetFileBytes $targetFileBytes")
    val cur0 = currentVersion(spark, root)
    require(cur0 > 0, s"no committed version at $root")
    val pre = fileSizes(spark, root, cur0)
    if (pre.count(_._2 < minFileBytes) < 2) return cur0
    rewrite(spark, root, maxRetries) { (sp, s) =>
      val sizes = fileSizes(sp, root, s.version)
      val (small, big) = sizes.partition(_._2 < minFileBytes)
      // a lost-race retry can find the small files already folded by a
      // concurrent writer — abort instead of committing an empty
      // rewrite, so the <2-small-files no-op contract holds under OCC
      if (small.size < 2) throw RewriteNoop(s.version)
      else {
        val smallBytes = small.map(_._2).sum
        val nOut = math.max(1L,
          (smallBytes + targetFileBytes - 1) / targetFileBytes).toInt
        val folded = scanLogical(sp, root, s.version, small.map(_._1),
          raw => applyDv(sp, root, s.version, raw)).repartition(nOut)
        (folded, big.map(_._1))
      }
    }
  }

  /** LIVE row count from METADATA alone — no data file is opened:
    * stats-tracked commits record `"#rows"` per file in the manifest,
    * and the deletion-vector parquets (delete-sized, metadata-tier)
    * supply the subtraction. `None` when any live file predates row
    * tracking (an honest miss beats a table scan pretending to be a
    * metadata read). The count(*)-from-metadata shortcut every
    * manifest-based table format serves. */
  def rowCount(spark: SparkSession, root: String,
               version: Long = -1L): Option[Long] = {
    val v = if (version > 0) version else currentVersion(spark, root)
    require(v > 0, s"no committed version at $root")
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    def lineRows(l: String): Option[Long] = {
      val cut = l.indexOf('\t')
      if (cut < 0) None else parseStats(om, l.substring(cut + 1))._2
    }
    var sum = 0L
    // walk the ROOT: a shard ref's aggregate "#rows" covers all its
    // members in one line — a sharded table's count opens zero shards;
    // a shard without the aggregate (a pre-rows member) falls back to
    // its member lines
    for (l <- manifestBody(spark, root, v).split("\n")
         if l.nonEmpty && !l.startsWith("#") && !l.startsWith("!")) {
      if (l.startsWith(ShardPrefix)) {
        parseShardRef(om, l).rows match {
          case Some(r) => sum += r
          case None =>
            for (m <- shardFileLines(spark, root, l.split('\t')(1)))
              lineRows(m) match {
                case Some(r) => sum += r
                case None => return None
              }
        }
      } else lineRows(l) match {
        case Some(r) => sum += r
        case None => return None
      }
    }
    val s = snapshot(spark, root, v)
    val dvs = dvEntries(spark, root, s.version)
    val deleted =
      if (dvs.isEmpty) 0L
      else {
        val live3 = s.files.map(_.split('/').takeRight(3).mkString("/")).toSet
        spark.read.parquet(dvs.map(_._2).distinct
            .map(rel => new Path(root, rel).toString): _*)
          .select(col("file"), col("pos")).distinct()
          .filter(col("file").isin(live3.toSeq: _*))
          .count()
      }
    Some(sum - deleted)
  }

  /** DESCRIBE HISTORY: one row per retained manifest — version,
    * commit-file modification time (ms), live file count, and the
    * meta header rendered `k=v` sorted — the audit surface every
    * table format exposes. Reads manifests only. */
  def describeHistory(spark: SparkSession, root: String): DataFrame = {
    val f = fs(spark, root)
    val rows = f.listStatus(manifestDir(root)).toSeq.flatMap { st =>
      st.getPath.getName match {
        case ManifestName(v) =>
          val ver = v.toLong
          val meta = manifestMeta(spark, root, ver).toSeq.sortBy(_._1)
            .collect { case (k, value) if k != "schema" => s"$k=$value" }
            .mkString(";")
          Some((ver, st.getModificationTime,
            fileCount(spark, root, ver), meta))
        case _ => None
      }
    }.sortBy(_._1)
    val sp = spark; import sp.implicits._
    rows.toDF("version", "modified_ms", "n_files", "meta")
  }

  /** DESCRIBE DETAIL + health audit — the operational read a standing
    * 100-TB table needs before anyone queries it: one metadata-only
    * row with the snapshot's file census (count, recorded bytes,
    * small-file frontier against [[compactSmall]]'s default
    * threshold), metadata shape (shard count — 0 means the root
    * still inlines every file line), merge-on-read debt (DV count),
    * and stats coverage (files carrying min/max for the declared
    * stats columns — the fraction [[readRange]] can actually prune).
    * Each field points at its remedy: small files → compactSmall,
    * flat manifest at volume → shardManifest, DV debt → compact,
    * low stats coverage → optimize. Reads manifests only. */
  def describeDetail(spark: SparkSession, root: String,
                     version: Long = -1L,
                     smallFileBytes: Long = 32L * 1024 * 1024): DataFrame = {
    val s = snapshot(spark, root, version)
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val lines = fileLines(spark, root, s.version)
    val sizes = lines.flatMap(lineBytes(om, _))
    val statsCols = manifestMeta(spark, root, s.version)
      .getOrElse("statscols", "")
    val declared = statsCols.split(",").filter(_.nonEmpty)
    val covered =
      if (declared.isEmpty) 0
      else lines.count { l =>
        val cut = l.indexOf('\t')
        cut >= 0 && {
          val cols = parseStats(om, l.substring(cut + 1))._1
          declared.forall(cols.contains)
        }
      }
    val sp = spark; import sp.implicits._
    Seq((s.version, lines.size.toLong,
      shardRefs(spark, root, s.version).size.toLong,
      sizes.sum, sizes.size.toLong,
      sizes.count(_ < smallFileBytes).toLong,
      rawDvLines(spark, root, s.version).size.toLong,
      statsCols, covered.toLong,
      rowCount(spark, root, s.version).getOrElse(-1L)))
      .toDF("version", "n_files", "n_shards", "known_bytes",
        "files_with_bytes", "n_small_files", "n_dv", "stats_cols",
        "files_with_stats", "row_count")
  }

  /** AS OF TIMESTAMP resolution: the newest version whose manifest
    * commit time (the atomic rename that IS the commit point) is
    * ≤ `tsMillis`. Modification times are monotone in version up to
    * filesystem clock granularity — same-tick commits tie-break by
    * version, newest wins (matching the public table formats'
    * timestamp resolution). Fails when `tsMillis` precedes the oldest
    * RETAINED manifest: vacuum trims history, so a timestamp older
    * than retention is unanswerable, not silently v1. */
  def versionAsOf(spark: SparkSession, root: String, tsMillis: Long): Long = {
    val f = fs(spark, root)
    val commits = f.listStatus(manifestDir(root)).toSeq.flatMap { st =>
      st.getPath.getName match {
        case ManifestName(v) => Some((v.toLong, st.getModificationTime))
        case _ => None
      }
    }.sorted
    require(commits.nonEmpty, s"no committed version at $root")
    val at = commits.filter(_._2 <= tsMillis)
    require(at.nonEmpty,
      s"timestamp $tsMillis precedes the oldest retained commit " +
        s"(v${commits.head._1} at ${commits.head._2}) at $root")
    at.last._1
  }

  /** Time-travel read by wall clock: [[read]] pinned at
    * [[versionAsOf]]`(tsMillis)`. */
  def readAsOf(spark: SparkSession, root: String, tsMillis: Long): DataFrame =
    read(spark, root, versionAsOf(spark, root, tsMillis))

  /** CHANGE FEED between two committed versions, at FILE granularity
    * (the public change-data-feed concept on a file-manifest layout):
    * rows in files the later manifest ADDED are `insert`s, rows in
    * files it REMOVED are `delete`s, deletion-vector growth on a
    * carried file yields `delete`s for exactly the newly vectored
    * positions, and deletion-vector SHRINK (a restore into a
    * pre-delete era) yields `insert`s for exactly the resurfaced
    * positions (round 14). A copy-on-write rewrite (MERGE/deleteWhere) therefore
    * reports its rewritten file's rows as delete+insert pairs even
    * where a row was carried unchanged — the documented granularity
    * trade of file-level CDF; consumers needing row-exact diffs
    * aggregate the pairs away on their key. NET-CHANGE semantics: the
    * diff is between the two ENDPOINT manifests only, so a file both
    * added and removed strictly within (from, to] contributes nothing
    * — its transient insert+delete pair cancels, which is exactly
    * right for net-state consumers (materialized views, sync targets)
    * but differs from a per-commit change log; walk consecutive
    * (v, v+1) pairs to recover per-commit events. Output: the table's
    * columns plus `_change_type` (`insert` | `delete`). */
  def changesBetween(spark: SparkSession, root: String,
                     fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion < toVersion, s"need from < to: $fromVersion, $toVersion")
    val from = snapshot(spark, root, fromVersion)
    val to = snapshot(spark, root, toVersion)
    // change rows surface under the TO version's logical names
    def scan(files: Seq[String]): DataFrame =
      scanLogical(spark, root, to.version, files)
    def lit3(rel: String): String = rel.split('/').takeRight(3).mkString("/")
    val added = to.files.toSet -- from.files.toSet
    val removed = from.files.toSet -- to.files.toSet
    // DV delta on files PRESENT in both snapshots: positions vectored
    // at `to` but not at `from` are deletes
    val dvFrom = dvEntries(spark, root, from.version).map(_._2).distinct
    val dvTo = dvEntries(spark, root, to.version).map(_._2).distinct
    def dvRows(rels: Seq[String]): DataFrame =
      if (rels.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("file",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("pos",
              org.apache.spark.sql.types.LongType))))
      else spark.read.parquet(rels.map(r => new Path(root, r).toString): _*)
        .select(col("file"), col("pos"))
    val carried3 = (from.files.toSet intersect to.files.toSet).map(lit3)
    val newlyVectored = dvRows(dvTo).exceptAll(dvRows(dvFrom))
      .filter(col("file").isin(carried3.toSeq: _*))
    // DV SHRINK on a carried file (a restore into a pre-delete era):
    // the un-vectored positions RESURFACE — a net-state consumer must
    // see them as inserts or it keeps them deleted forever (round 14;
    // found by the CDC stream's per-version replay gate)
    val unVectored = dvRows(dvFrom).exceptAll(dvRows(dvTo))
      .filter(col("file").isin(carried3.toSeq: _*))
    def tagged(df: DataFrame, t: String): DataFrame =
      df.withColumn("_change_type", org.apache.spark.sql.functions.lit(t))
    val inserts =
      if (added.isEmpty) None
      else Some(tagged(applyDv(spark, root, to.version, scan(added.toSeq)), "insert"))
    val deletes =
      if (removed.isEmpty) None
      // removed files' rows count as deleted AS THE FROM-ERA SAW THEM
      else Some(tagged(applyDv(spark, root, from.version, scan(removed.toSeq)), "delete"))
    val carriedFiles = (from.files.toSet intersect to.files.toSet).toSeq
    def dvRowsOf(positions: DataFrame, t: String): Option[DataFrame] =
      if (carriedFiles.isEmpty) None
      else {
        val base = scan(carriedFiles)
          .withColumn("__dvf", expr("substring_index(input_file_name(), '/', -3)"))
          .withColumn("__dvp", col("_metadata.row_index").cast("long"))
        Some(tagged(base.join(positions
            .select(col("file").as("__dvf"), col("pos").as("__dvp")),
            Seq("__dvf", "__dvp"), "left_semi")
          .drop("__dvf", "__dvp"), t))
      }
    val dvDeletes = dvRowsOf(newlyVectored, "delete")
    val dvInserts = dvRowsOf(unVectored, "insert")
    val parts = inserts.toSeq ++ deletes.toSeq ++ dvDeletes.toSeq ++
      dvInserts.toSeq
    if (parts.isEmpty)
      read(spark, root, toVersion).limit(0)
        .withColumn("_change_type", org.apache.spark.sql.functions.lit("insert"))
    else parts.reduce(_.unionByName(_))
  }

  /** OPTIMIZE: rewrite the current snapshot curve-CLUSTERED on
    * `clusterCols` (Hilbert for 3+ dims, Morton/range for fewer) with
    * per-file stats on every cluster column — one call = the table
    * format's OPTIMIZE ZORDER loop ([[compact]] composed with
    * [[graft.operators.Layout]] and `statsCols`), under the same OCC
    * retry. Readers pinned to earlier versions are untouched; after
    * it, a selective [[readRange]] on ANY cluster column prunes from
    * the manifest alone. NOTE: the overwrite commit writes a FLAT
    * manifest (an optimize rewrites every file, so its metadata is
    * inherently O(files) that one time) — on a sharded table, run
    * [[shardManifest]] again afterwards; cluster order makes the
    * re-shard's range-disjoint grouping ideal. */
  /** The curve-cluster shuffle [[optimize]] rewrites with, reusable at
    * WRITE time: interleave (Morton for 2 dims, Hilbert for 3+) or a
    * plain range sort for one column, range-partitioned into ~nFiles
    * key-disjoint files and sorted within each — the shape that makes
    * a selective [[readRange]] on any cluster column open a strict
    * minority of files from the manifest stats alone. */
  def clusterLayout(df: DataFrame, clusterCols: Seq[String],
                    bits: Int = 8, nFiles: Int = 64): DataFrame = {
    require(clusterCols.nonEmpty, "clusterLayout needs cluster columns")
    val key =
      if (clusterCols.size == 1) col(clusterCols.head).cast("long")
      else if (clusterCols.size <= 2)
        graft.operators.Layout.zorderKey(col(clusterCols(0)), col(clusterCols(1)), bits)
      else graft.operators.Layout.hilbertKey(clusterCols.map(col), bits)
    // range-partition on the curve key itself: the range partitioner
    // SAMPLES the real key distribution, so files come out balanced
    // and key-disjoint whatever subset of curve space the data
    // occupies (a fixed key-span split degrades to a handful of fat
    // files whenever the domain is narrow or skewed)
    // collision-proof temp name: withColumn REPLACES an existing
    // column, and the declared-clustering write path runs this on
    // every catalog INSERT — a user column named like the temp key
    // must not be silently destroyed
    val kc = Iterator.from(0).map(i => s"__graft_ck$i")
      .find(n => !df.columns.contains(n)).get
    df.withColumn(kc, key)
      .repartitionByRange(nFiles, col(kc))
      .sortWithinPartitions(kc)
      .drop(kc)
  }

  def optimize(spark: SparkSession, root: String, clusterCols: Seq[String],
               bits: Int = 8, nFiles: Int = 64, maxRetries: Int = 5): Long = {
    require(clusterCols.nonEmpty, "optimize needs cluster columns")
    var attempt = 0
    while (true) {
      val s = snapshot(spark, root)
      val cur = read(spark, root, s.version)
      val clustered = clusterLayout(cur, clusterCols, bits, nFiles)
      try {
        return commit(clustered, root, mode = "overwrite",
          expectBase = s.version, statsCols = clusterCols)
      } catch {
        case e: ConcurrentCommitException =>
          attempt += 1
          if (attempt > maxRetries) throw e
      }
    }
    sys.error("unreachable")
  }

  /** Convert the CURRENT manifest to the TWO-LEVEL form as a new,
    * metadata-only commit: the expanded file lines are grouped into
    * immutable shard files of ≤ `targetFilesPerShard` lines each
    * (ordered by the first stats column's recorded min when available
    * — on an OPTIMIZE'd table consecutive files share key ranges, so
    * shards end up range-disjoint and a selective [[readRange]] opens
    * a handful of them), and the new root manifest holds one `@shard`
    * ref per shard with the shard-level AGGREGATE stats + row count.
    * Zero data files are read or written.
    *
    * This retires the flat manifest's O(files) driver costs where they
    * matter at 10M+ files: [[readRange]]/[[prunedFilesDetail]] read
    * root + surviving shards only; [[commit]]-append,
    * [[deleteWhereDv]], and [[restore]] carry shard refs verbatim
    * (O(shards) metadata); [[rowCount]] and [[describeHistory]] answer
    * from the root alone; [[merge]]/[[deleteWhere]] expand ONLY the
    * shards their key/predicate touches into inline lines (re-run
    * shardManifest to fold long-lived inline accretion back in — the
    * metadata analogue of compaction). A FULL-table read still
    * materializes every file path on the driver — that list is the
    * scan plan Spark itself needs — but no longer as one monolithic
    * manifest read. Same OCC/rename contract as every commit. */
  def shardManifest(spark: SparkSession, root: String,
                    targetFilesPerShard: Int = 4096,
                    maxRetries: Int = 5): Long = {
    require(targetFilesPerShard >= 1, s"bad shard size $targetFilesPerShard")
    val f = fs(spark, root)
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    var attempt = 0
    while (true) {
      val cur = currentVersion(spark, root)
      require(cur > 0, s"no committed version at $root")
      val schema = tableSchema(spark, root, cur)
      def colNumeric(c: String): Boolean = schema
        .flatMap(fieldAtPath(_, c)) // stats keys may be nested paths
        .exists(_.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
      val statsCols = manifestMeta(spark, root, cur).get("statscols")
        .toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
      val parsed = fileLines(spark, root, cur).map { l =>
        val cut = l.indexOf('\t')
        if (cut < 0) (l, Map.empty[String, (String, String)], None: Option[Long])
        else {
          val (st, rows) = parseStats(om, l.substring(cut + 1))
          (l, st, rows)
        }
      }
      // best-effort locality order by the first stats column's min —
      // the sort only affects which shard a file lands in, never
      // correctness, so unparseable values fall back to line order
      val ordered = statsCols.headOption match {
        case Some(c) if parsed.forall(_._2.contains(c)) =>
          if (colNumeric(c))
            scala.util.Try(parsed.sortBy(p => BigDecimal(p._2(c)._1))).getOrElse(parsed)
          else parsed.sortBy(_._2(c)._1)
        case _ => parsed
      }
      val groups = ordered.grouped(targetFilesPerShard).toSeq
      val nonce = java.util.UUID.randomUUID.toString.take(8)
      f.mkdirs(shardsDir(root))
      val refLines = groups.zipWithIndex.map { case (g, i) =>
        val rel = s"_manifests/shards/s${cur + 1}-$nonce-$i.shard"
        val out = f.create(new Path(root, rel), true)
        try out.write(g.map(_._1).mkString("", "\n", "\n")
          .getBytes(StandardCharsets.UTF_8)) finally out.close()
        // aggregate [min, max] only for columns EVERY member records
        // (else the shard must stay conservatively un-prunable on
        // that column), row total only when every member records one
        val aggCols = statsCols.flatMap { c =>
          val per = g.map(_._2.get(c))
          if (!per.forall(_.isDefined)) None
          else scala.util.Try {
            val leq = statLeq(colNumeric(c)) _
            val vals = per.map(_.get)
            val mn = vals.map(_._1).reduce((a, b) => if (leq(a, b)) a else b)
            val mx = vals.map(_._2).reduce((a, b) => if (leq(a, b)) b else a)
            s"${jesc(c)}:[${jesc(mn)},${jesc(mx)}]"
          }.toOption
        }
        val rowsPart =
          if (g.forall(_._3.isDefined)) Seq(s""""#rows":${g.map(_._3.get).sum}""")
          else Seq.empty
        val json = (aggCols ++ rowsPart).mkString("{", ",", "}")
        s"$ShardPrefix$rel\t${g.size}\t$json"
      }
      val metaLines = manifestMeta(spark, root, cur).toSeq.sortBy(_._1)
        .map { case (k, v) => s"#$k=$v" }
      val lines = (metaLines ++ refLines ++ rawDvLines(spark, root, cur))
        .mkString("", "\n", "\n")
      val lost = currentVersion(spark, root) != cur || {
        val tmp = new Path(manifestDir(root), s".v${cur + 1}-$nonce.tmp")
        val out = f.create(tmp, true)
        try out.write(lines.getBytes(StandardCharsets.UTF_8)) finally out.close()
        val renamed = f.rename(tmp, new Path(manifestDir(root), s"v${cur + 1}.manifest"))
        if (!renamed) f.delete(tmp, false)
        !renamed
      }
      if (!lost) return cur + 1
      refLines.foreach(l => f.delete(new Path(root, l.split('\t')(1)), false))
      attempt += 1
      if (attempt > maxRetries)
        throw new ConcurrentCommitException(
          s"shardManifest at $root lost $attempt commit races")
    }
    sys.error("unreachable")
  }

  /** RESTORE: roll the table back to `version`'s contents AS A NEW
    * COMMIT (the public table-format RESTORE semantics) — the bad
    * commits stay in history for audit/time travel, nothing is
    * deleted, and concurrent readers see the restore as just another
    * atomic version flip. Returns the committed version. */
  def restore(spark: SparkSession, root: String, version: Long): Long = {
    require(version > 0, s"restore needs an explicit version: $version")
    val f = fs(spark, root)
    val meta = manifestMeta(spark, root, version).toSeq.sortBy(_._1)
      .map { case (k, v) => s"#$k=$v" }
    // verbatim carry: shard refs stay refs (shard files are immutable
    // and [[vacuum]] retains any shard a retained manifest references)
    val lines = (meta ++ rawCarryLines(spark, root, version))
      .mkString("", "\n", "\n")
    var committed = -1L
    while (committed < 0) {
      val cur = currentVersion(spark, root)
      val nonce = java.util.UUID.randomUUID.toString.take(8)
      val tmp = new Path(manifestDir(root), s".v${cur + 1}-$nonce.tmp")
      val out = f.create(tmp, true)
      try out.write(lines.getBytes(StandardCharsets.UTF_8)) finally out.close()
      if (f.rename(tmp, new Path(manifestDir(root), s"v${cur + 1}.manifest")))
        committed = cur + 1
      else f.delete(tmp, false)
    }
    committed
  }

  // ───────────────────────────── named tags ──────────────────────────────
  // The public Iceberg/Delta snapshot-pin concept on this layout: a tag
  // is one small file `_manifests/tags/<name>` holding a version
  // number. Corpus-era pins a training-data pipeline reads back BY NAME
  // ("v1-corpus") instead of recording version numbers out-of-band;
  // vacuum refuses to retire a tagged era.

  private def tagsDir(root: String) = new Path(manifestDir(root), "tags")

  /** Tag names survive the filesystem, the manifest layout and the
    * `t@name` read syntax — and can never shadow a numeric version. */
  private def validTagName(name: String): Unit = {
    require(name.nonEmpty && name.forall(c =>
        c.isLetterOrDigit || c == '-' || c == '_' || c == '.'),
      s"tag name must be [A-Za-z0-9._-]+, got '$name'")
    require(name.exists(!_.isDigit),
      s"tag name '$name' would shadow a numeric version")
    require(!name.startsWith("."), s"tag name may not start with '.': '$name'")
  }

  /** Pin `version` (default: current) under a human-readable name.
    * Tags are IMMUTABLE — create-once, `dropTag` + re-tag to move —
    * the reproducibility posture a corpus pin wants: nothing can
    * silently re-point "v1-corpus" at different data. Atomic via
    * temp-and-rename; losing a creation race to the same name throws
    * (first writer wins). The pinned version must still be retained.
    * Returns the pinned version. */
  def tag(spark: SparkSession, root: String, name: String,
          version: Long = -1L): Long = {
    validTagName(name)
    val f = fs(spark, root)
    val v = if (version > 0) version else currentVersion(spark, root)
    require(v > 0, s"no committed version at $root")
    require(f.exists(new Path(manifestDir(root), s"v$v.manifest")),
      s"version $v is not retained at $root (vacuumed, or never committed)")
    val p = new Path(tagsDir(root), name)
    require(!f.exists(p),
      s"tag '$name' already exists at $root (tags are immutable — " +
        "dropTag first to re-point)")
    f.mkdirs(tagsDir(root))
    val tmp = new Path(tagsDir(root),
      s".$name.${java.util.UUID.randomUUID.toString.take(8)}.tmp")
    val out = f.create(tmp, true)
    try out.write(s"$v\n".getBytes(StandardCharsets.UTF_8)) finally out.close()
    // publish via FileContext.rename WITHOUT Rename.OVERWRITE — it
    // enforces no-clobber even on RawLocalFileSystem, whose
    // FileSystem.rename (POSIX renameTo) silently overwrites: two
    // racing tag() calls can both pass the exists check above, and
    // first-writer-wins must hold on the filesystem the tests run on.
    // A store with NO AbstractFileSystem binding (s3a/gs without
    // fs.AbstractFileSystem.<scheme>.impl) cannot build a FileContext
    // at all — fall back to the plain FileSystem rename there (the
    // pre-round-15 behavior: object-store renames don't clobber like
    // POSIX, and failing every tag() with a bogus 'lost a race' would
    // be a regression for those stores).
    try {
      val fc = try org.apache.hadoop.fs.FileContext.getFileContext(p.toUri,
        spark.sparkContext.hadoopConfiguration)
      catch {
        case _: org.apache.hadoop.fs.UnsupportedFileSystemException => null
      }
      if (fc != null) fc.rename(tmp, p)
      else if (f.exists(p) || !f.rename(tmp, p))
        throw new org.apache.hadoop.fs.FileAlreadyExistsException(p.toString)
    } catch {
      // ONLY a target-exists outcome is a lost creation race; any
      // other IOException (transient FS failure, permissions) must
      // surface as itself — reporting it as "lost a race" would
      // misdiagnose the failure and hide the real cause
      case e @ (_: org.apache.hadoop.fs.FileAlreadyExistsException |
                _: org.apache.hadoop.fs.PathExistsException) =>
        f.delete(tmp, false)
        throw new IllegalStateException(
          s"tag '$name' lost a creation race at $root", e)
      case e: java.io.IOException =>
        f.delete(tmp, false)
        throw e
    }
    // re-verify AFTER publishing: the retained-manifest check above
    // races a concurrent vacuum (TOCTOU) — a tag must never point at
    // an era vacuum just retired, so un-publish and fail loudly
    if (!f.exists(new Path(manifestDir(root), s"v$v.manifest"))) {
      f.delete(p, false)
      throw new IllegalStateException(
        s"tag '$name' at $root: version $v was vacuumed concurrently " +
          "with the tag creation — the era is gone")
    }
    v
  }

  /** Remove a tag (the version it pinned becomes vacuum-eligible
    * again once outside the retention window). Returns whether a tag
    * existed. */
  def dropTag(spark: SparkSession, root: String, name: String): Boolean = {
    validTagName(name)
    fs(spark, root).delete(new Path(tagsDir(root), name), false)
  }

  /** Every tag: name → pinned version. */
  def tags(spark: SparkSession, root: String): Map[String, Long] = {
    val f = fs(spark, root)
    val d = tagsDir(root)
    if (!f.exists(d)) Map.empty
    else f.listStatus(d).toSeq
      .filter(st => !st.getPath.getName.startsWith("."))
      .flatMap(st => scala.util.Try(readSmallFile(f, st.getPath).trim.toLong)
        .toOption.map(st.getPath.getName -> _)).toMap
  }

  /** The version `name` pins; error when the tag does not exist. */
  def tagVersion(spark: SparkSession, root: String, name: String): Long = {
    val f = fs(spark, root)
    val p = new Path(tagsDir(root), name)
    require(f.exists(p), s"no tag '$name' at $root " +
      s"(have ${tags(spark, root).keys.toSeq.sorted.mkString(", ")})")
    readSmallFile(f, p).trim.toLong
  }

  /** [[read]] pinned at a tag. */
  def readTag(spark: SparkSession, root: String, name: String): DataFrame =
    read(spark, root, tagVersion(spark, root, name))

  /** SHALLOW CLONE: create a NEW table at `dstRoot` whose v1 manifest
    * references the SOURCE's data (and deletion-vector) files by
    * ABSOLUTE QUALIFIED path — zero bytes copied, metadata-only,
    * O(manifest). The public lakehouse shallow-clone concept: a
    * writable fork for experiments/dev against production data, where
    * only files the clone itself writes land under its own root.
    * Paths are qualified through the SOURCE filesystem
    * (`makeQualified`) — stripping to the path part would lose the
    * bucket/namenode on s3a://… or hdfs://nn/… sources and the clone
    * would resolve its lines against the wrong filesystem.
    *
    * Independence is structural: every mutation path (commit, merge,
    * DV delete, optimize, compact) writes new files under the CLONE's
    * root and new manifests in the clone's `_manifests`, so the source
    * never observes the clone; the clone's [[vacuum]] only scans the
    * clone's own `data/` directory, so it can never delete source
    * bytes. The ONE documented caveat (shared with the public shallow
    * clones): vacuuming or dropping the SOURCE invalidates clones that
    * still reference its files — materialize via [[optimize]]/
    * [[compact]] first.
    *
    * A SHARDED source keeps its two-level layout: each shard file is
    * REWRITTEN into the clone's own shards dir with absolutized member
    * lines (member rels are source-relative and would mis-resolve; and
    * the clone must own its shard files — the source's vacuum GCs
    * shard metadata on the source's own retention schedule), and the
    * root carries refs with the source's shard aggregates verbatim —
    * the clone's root stays O(shards), not O(files), so cloning a
    * 10M-file table writes a small root + its shard files, never a
    * 10M-line manifest. Stats lines carry verbatim (path-agnostic), so
    * data skipping works on the clone from birth; dv lines keep their
    * data key verbatim (every dv consumer compares on the 3-segment
    * key, both forms accepted) with the dv parquet made absolute.
    * Returns the clone's version (always 1). */
  def clone(spark: SparkSession, srcRoot: String, dstRoot: String,
            version: Long = -1L): Long = {
    val v = if (version > 0) version else currentVersion(spark, srcRoot)
    require(v > 0, s"no committed version at $srcRoot")
    require(currentVersion(spark, dstRoot) == 0,
      s"clone target $dstRoot already has commits")
    val srcFs = fs(spark, srcRoot)
    require(srcFs.makeQualified(new Path(srcRoot)) !=
        fs(spark, dstRoot).makeQualified(new Path(dstRoot)),
      "clone target must differ from the source")
    val f = fs(spark, dstRoot)
    def abs(rel: String): String =
      srcFs.makeQualified(new Path(srcRoot, rel)).toString
    def absLine(l: String): String = {
      val cut = l.indexOf('\t')
      if (cut < 0) abs(l) else abs(l.substring(0, cut)) + l.substring(cut)
    }
    val metaLines = manifestMeta(spark, srcRoot, v).toSeq.sortBy(_._1)
      .map { case (k, mv) => s"#$k=$mv" }
    val nonce = java.util.UUID.randomUUID.toString.take(8)
    // walk the source ROOT: inline lines absolutize in place; shard
    // refs rewrite their shard file under the clone (same aggregate,
    // same nFiles — only the member paths change)
    f.mkdirs(manifestDir(dstRoot))
    var shardIdx = 0
    val bodyLines = manifestBody(spark, srcRoot, v).split("\n").toSeq.flatMap { l =>
      if (l.isEmpty || l.startsWith("#")) Seq.empty
      else if (l.startsWith("!dv\t")) {
        val p = l.split('\t') // !dv, dataKey, dvRel
        Seq(s"!dv\t${p(1)}\t${abs(p(2))}")
      } else if (l.startsWith(ShardPrefix)) {
        val p = l.split('\t') // @shard, rel, nFiles, statsJson
        val members = shardFileLines(spark, srcRoot, p(1)).map(absLine)
        val rel = s"_manifests/shards/clone1-$nonce-$shardIdx.shard"
        shardIdx += 1
        f.mkdirs(shardsDir(dstRoot))
        val out = f.create(new Path(dstRoot, rel), true)
        try out.write(members.mkString("", "\n", "\n")
          .getBytes(StandardCharsets.UTF_8)) finally out.close()
        Seq((Seq(ShardPrefix.stripSuffix("\t"), rel) ++ p.drop(2))
          .mkString("\t"))
      } else Seq(absLine(l))
    }
    val lines = (metaLines ++ bodyLines).mkString("", "\n", "\n")
    val tmp = new Path(manifestDir(dstRoot), s".v1-$nonce.tmp")
    val out = f.create(tmp, true)
    try out.write(lines.getBytes(StandardCharsets.UTF_8)) finally out.close()
    // explicit loser cleanup (not a by-name require message, which a
    // refactor to a strict message would silently stop running): the
    // tmp manifest AND this attempt's already-written shard files go,
    // so a lost creation race orphans nothing under the winner's tree
    if (!f.rename(tmp, new Path(manifestDir(dstRoot), "v1.manifest"))) {
      f.delete(tmp, false)
      (0 until shardIdx).foreach(i => f.delete(
        new Path(dstRoot, s"_manifests/shards/clone1-$nonce-$i.shard"), false))
      throw new IllegalStateException(s"clone lost a creation race at $dstRoot")
    }
    1L
  }

  /** A Hadoop Configuration that survives a Spark closure (the
    * standard writeObject/readFields wrapper — Configuration itself
    * is not Serializable). Used by [[materialize]]'s distributed
    * copy stage. */
  private class SerializableHadoopConf(
      @transient private var conf: org.apache.hadoop.conf.Configuration)
      extends java.io.Serializable {
    def value: org.apache.hadoop.conf.Configuration = conf
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject(); conf.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      conf = new org.apache.hadoop.conf.Configuration(false)
      conf.readFields(in)
    }
  }

  /** Torn-copy-proof byte copy: reuse `dst` only when its LENGTH
    * matches the source (a crashed copy leaves a shorter file) AND —
    * where both filesystems expose comparable checksums
    * (`getFileChecksum`, e.g. HDFS's MD5-of-block-CRCs) — the
    * checksums agree; else copy to a nonce'd temp sibling and RENAME
    * into place — our own crash can only leave `.tmp` junk, never a
    * trusted-looking partial. Filesystems without checksums (the
    * local fs returns null) fall back to the length check alone —
    * trusted there as an invariant of the nonce'd commit-dir rel
    * scheme (two different files can only collide on a rel by
    * colliding on the nonce). A lost rename race against a concurrent
    * materialize is success iff the winner's file checks out. */
  private def safeCopy(srcFs: FileSystem, src: Path,
                       dstFs: FileSystem, dst: Path,
                       conf: org.apache.hadoop.conf.Configuration): Unit = {
    val want = srcFs.getFileStatus(src).getLen
    def checksumOk: Boolean = {
      val (sc, dc) = (Option(srcFs.getFileChecksum(src)),
        Option(dstFs.getFileChecksum(dst)))
      (sc, dc) match {
        // comparable only when both sides compute the same algorithm
        // (block-size-sensitive on HDFS — mismatched algorithm names
        // mean "cannot verify", not "differs")
        case (Some(a), Some(b)) if a.getAlgorithmName == b.getAlgorithmName =>
          a == b
        case _ => true
      }
    }
    def ok: Boolean =
      dstFs.exists(dst) && dstFs.getFileStatus(dst).getLen == want &&
        checksumOk
    if (ok) return
    dstFs.mkdirs(dst.getParent)
    val tmp = new Path(dst.getParent,
      s".${dst.getName}.${java.util.UUID.randomUUID.toString.take(8)}.tmp")
    org.apache.hadoop.fs.FileUtil.copy(srcFs, src, dstFs, tmp, false, conf)
    if (dstFs.exists(dst)) dstFs.delete(dst, false) // stale partial
    if (!dstFs.rename(tmp, dst)) {
      dstFs.delete(tmp, false)
      require(ok, s"materialize copy lost a race and the winner's " +
        s"$dst does not match the source length $want")
    }
  }

  /** MATERIALIZE: copy every file the CURRENT version references
    * OUTSIDE its own root — a shallow [[clone]]'s source files — into
    * the table's own directory tree and commit a manifest pointing at
    * the copies. After materialize, the current version (and
    * everything committed after it) no longer depends on the source.
    *
    * HISTORY SEMANTICS: by default PRE-materialize manifests still
    * reference the source — `VERSION AS OF`, [[changesBetween]] and
    * [[restore]] onto those versions depend on the source while it
    * lives (restore deliberately resurrects its era's references,
    * localized again by a follow-up materialize). To drop the source
    * safely, either retire the foreign history (`vacuum(clone,
    * retainVersions = 1)`) — or pass `allRetained = true` (round 14,
    * DEEP materialize): every retained manifest is localized too, so
    * the fork keeps its FULL time-travel history after the source
    * drops — the reproducibility posture a training-data fork wants.
    * Old manifests are rewritten IN PLACE (their content semantics are
    * unchanged — same files, localized paths) via temp + atomic
    * overwrite-rename (FileContext); the one caveat is a reader
    * resolving a historic version in the instant of the swap on a
    * filesystem without atomic overwrite — deep materialize is a
    * maintenance op, run it like one. Superseded shard files simply
    * stop being referenced; a later [[vacuum]] GCs them on the normal
    * schedule.
    *
    * Byte-for-byte copy — no shuffle, no decode, no re-clustering:
    * stats lines, shard aggregates and the file layout carry
    * verbatim, so pruning and the two-level manifest are untouched
    * (contrast [[optimize]], which also self-contains a clone but
    * rewrites its layout). The copy stage runs as a DISTRIBUTED Spark
    * job over the foreign-file list BEFORE the OCC window (driver-
    * sequential copies inside it would hold the race open for the
    * whole transfer on a large clone); the manifest rewrite afterward
    * is pure path work, with a [[safeCopy]] fallback for stragglers a
    * concurrent restore might reintroduce. Copies keep their LAST
    * THREE path segments under the new root (`data/<commitdir>/
    * <file>`) — deletion vectors address data files by exactly that
    * 3-segment key, so preserving it keeps every recorded delete
    * bound to its copied file; [[safeCopy]] makes partial copies
    * unobservable (length-checked reuse + temp-and-rename). Foreign
    * DV parquets copy the same way; foreign shard files are rewritten
    * with localized member lines. A table with nothing foreign
    * returns its current version unchanged. Publishes as version+1
    * under the usual manifest-rename OCC. */
  def materialize(spark: SparkSession, root: String,
                  maxRetries: Int = 5, allRetained: Boolean = false): Long = {
    val f = fs(spark, root)
    val conf = spark.sparkContext.hadoopConfiguration
    val rootQ = f.makeQualified(new Path(root)).toString
    def foreignOf(rel: String): Option[Path] = {
      val q = new Path(root, rel)
      val qf = q.getFileSystem(conf).makeQualified(q)
      if (qf.toString.startsWith(rootQ + "/")) None else Some(qf)
    }
    def key3(p: Path): String =
      p.toString.split('/').takeRight(3).mkString("/")
    // every foreign path one manifest references, in body-line order
    def foreignPaths(version: Long): Seq[Path] =
      manifestBody(spark, root, version).split("\n").toSeq.flatMap { l =>
        if (l.isEmpty || l.startsWith("#")) Seq.empty
        else if (l.startsWith("!dv\t")) foreignOf(l.split('\t')(2)).toSeq
        else if (l.startsWith(ShardPrefix))
          shardFileLines(spark, root, l.split('\t')(1))
            .flatMap(m => foreignOf(lineRel(m)).toSeq)
        else foreignOf(lineRel(l)).toSeq
      }
    def retainedVersions(): Seq[Long] =
      f.listStatus(manifestDir(root)).toSeq.map(_.getPath.getName).collect {
        case ManifestName(v) => v.toLong
      }.sorted
    // PHASE 1 — distributed byte copy, OUTSIDE the OCC window: the
    // transfer is the expensive part and is idempotent (stable
    // destination rels, torn copies unobservable), so losing a commit
    // race later never re-pays it. Deep materialize scans EVERY
    // retained manifest's foreign refs into the same one copy job.
    val curV0 = currentVersion(spark, root)
    require(curV0 > 0, s"no committed version at $root")
    val scanVs = if (allRetained) retainedVersions() else Seq(curV0)
    val first = scanVs.flatMap(foreignPaths).distinct
    if (first.isEmpty) return curV0
    locally {
      val serConf = new SerializableHadoopConf(conf)
      val rootStr = root
      val pairs = first.map(p => (p.toString, key3(p))).distinct
      spark.sparkContext
        .parallelize(pairs, math.max(1, math.min(pairs.size, 64)))
        .foreach { case (srcStr, dstRel) =>
          val hc = serConf.value
          val srcP = new Path(srcStr)
          val dstP = new Path(rootStr, dstRel)
          safeCopy(srcP.getFileSystem(hc), srcP,
            dstP.getFileSystem(hc), dstP, hc)
        }
    }
    // shared localizing rewrite of version `v`'s manifest lines:
    // (body lines, count of refs localized). `shardTag` keys this
    // call's fresh shard files; safeCopy covers any straggler a
    // concurrent restore reintroduced after the phase-1 job.
    def localizedBody(v: Long, shardTag: String): (Seq[String], Int) = {
      var copied = 0
      def localize(rel: String): String = foreignOf(rel) match {
        case None => rel
        case Some(src) =>
          val dstRel = key3(src)
          safeCopy(src.getFileSystem(conf), src, f,
            new Path(root, dstRel), conf)
          copied += 1
          dstRel
      }
      val nonce = java.util.UUID.randomUUID.toString.take(8)
      var shardIdx = 0
      val body = manifestBody(spark, root, v).split("\n").toSeq.flatMap { l =>
        if (l.isEmpty) Seq.empty
        else if (l.startsWith("#")) Seq(l)
        else if (l.startsWith("!dv\t")) {
          val p = l.split('\t')
          // normalize the data key to 3-segment form: the copied data
          // file keeps those segments, so recorded deletes stay bound
          val dk = p(1).split('/').takeRight(3).mkString("/")
          Seq(s"!dv\t$dk\t${localize(p(2))}")
        } else if (l.startsWith(ShardPrefix)) {
          val p = l.split('\t')
          val members = shardFileLines(spark, root, p(1))
          val local = members.map { m =>
            val cut = m.indexOf('\t')
            if (cut < 0) localize(m)
            else localize(m.substring(0, cut)) + m.substring(cut)
          }
          if (local == members) Seq(l) // fully-local shard carries as-is
          else {
            val rel = s"_manifests/shards/$shardTag-$nonce-$shardIdx.shard"
            shardIdx += 1
            f.mkdirs(shardsDir(root))
            val out = f.create(new Path(root, rel), true)
            try out.write(local.mkString("", "\n", "\n")
              .getBytes(StandardCharsets.UTF_8)) finally out.close()
            Seq((Seq(ShardPrefix.stripSuffix("\t"), rel) ++ p.drop(2))
              .mkString("\t"))
          }
        } else {
          val cut = l.indexOf('\t')
          Seq(if (cut < 0) localize(l)
              else localize(l.substring(0, cut)) + l.substring(cut))
        }
      }
      (body, copied)
    }
    // PHASE 2 — OCC manifest rewrite of the CURRENT version (pure
    // path work): publishes the localized snapshot as version+1 under
    // the usual manifest-rename race
    def publishCurrent(): Long = {
      var attempt = 0
      while (true) {
        val cur = currentVersion(spark, root)
        val (body, copied) = localizedBody(cur, s"m${cur + 1}")
        if (copied == 0) return cur // nothing foreign: already material
        val nonce = java.util.UUID.randomUUID.toString.take(8)
        val tmp = new Path(manifestDir(root), s".v${cur + 1}-$nonce.tmp")
        val out = f.create(tmp, true)
        try out.write(body.mkString("", "\n", "\n")
          .getBytes(StandardCharsets.UTF_8)) finally out.close()
        if (f.rename(tmp, new Path(manifestDir(root), s"v${cur + 1}.manifest")))
          return cur + 1
        f.delete(tmp, false) // lost the race — re-derive from the winner
        attempt += 1
        if (attempt > maxRetries)
          throw new ConcurrentCommitException(
            s"materialize at $root lost $attempt races")
      }
      sys.error("unreachable")
    }
    val published = publishCurrent()
    // PHASE 3 — deep materialize: localize every OLDER retained
    // manifest IN PLACE (content semantics unchanged — same rows,
    // local paths), via temp + atomic overwrite-rename, so the fork's
    // full time-travel history survives a source drop. The published
    // current version is already local; superseded shard files are
    // left for vacuum.
    if (allRetained) {
      for (v <- retainedVersions() if v < published) {
        val (body, copied) = localizedBody(v, s"m$v")
        if (copied > 0) {
          val nonce = java.util.UUID.randomUUID.toString.take(8)
          val tmp = new Path(manifestDir(root), s".v$v-deep-$nonce.tmp")
          val out = f.create(tmp, true)
          try out.write(body.mkString("", "\n", "\n")
            .getBytes(StandardCharsets.UTF_8)) finally out.close()
          val dst = new Path(manifestDir(root), s"v$v.manifest")
          try {
            val fc = org.apache.hadoop.fs.FileContext.getFileContext(
              dst.toUri, conf)
            fc.rename(tmp, dst, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
          } catch {
            case _: UnsupportedOperationException | _: java.io.IOException =>
              // no atomic overwrite on this fs: stage the replacement
              // at its RECOVERY NAME first (v$v.manifest.new), THEN
              // delete + rename. A crash between the delete and the
              // final rename leaves v$v.manifest.new holding the
              // complete localized manifest — the era (possibly a
              // tagged corpus pin) is recoverable by renaming it into
              // place, never permanently lost (the old order deleted
              // the only copy before the tmp had a resolvable name).
              val recovery = new Path(manifestDir(root), s"v$v.manifest.new")
              f.delete(recovery, false) // stale artifact of a prior crash
              require(f.rename(tmp, recovery),
                s"deep materialize could not stage v$v.manifest.new at $root")
              f.delete(dst, false)
              require(f.rename(recovery, dst),
                s"deep materialize could not replace v$v.manifest at $root " +
                  s"— recover by renaming v$v.manifest.new into place")
          }
        }
      }
    }
    published
  }

  /** Delete data files referenced by NO retained manifest, keeping the
    * newest `retainVersions` manifests (and every file they name).
    * Returns the number of data files deleted. The only deletion path
    * in the layout — everything else strictly adds.
    *
    * `graceMs` protects IN-FLIGHT COMMITS, not just old readers:
    * [[commit]] writes its data files BEFORE the manifest rename, so a
    * concurrent writer's fresh files are momentarily unreferenced by
    * any manifest — exactly what vacuum targets. Files younger than
    * the grace window are skipped (the modification-time guard the
    * public Delta/Iceberg vacuums use); the default comfortably
    * exceeds any write-to-rename gap. Tests pass 0 deliberately. */
  def vacuum(spark: SparkSession, root: String, retainVersions: Int = 1,
             graceMs: Long = 10L * 60 * 1000): Int = {
    val f = fs(spark, root)
    val cur = currentVersion(spark, root)
    require(cur > 0, s"no committed version at $root")
    val retainStart = (cur - retainVersions + 1) max 1L
    // TAGGED versions are pinned eras: vacuum refuses to retire them —
    // and (round 15) it keeps the WHOLE CHAIN from the oldest tag
    // forward, not just the tagged versions themselves. Streaming
    // resume from a tag (`startingVersion=<tag>`) diffs
    // snapshot(v-1) vs snapshot(v) for EVERY version after the pin,
    // so the intermediate manifests — and the files they name — must
    // survive vacuum for the advertised resume flow to work; keeping
    // only the tagged version's manifest made tag-resume fail the
    // moment vacuum retired an untagged intermediate era. Tags are
    // explicit opt-in pins: the chain is the documented price, and
    // dropping the tag releases it. Defensive exists-filter: a tag
    // whose manifest a PRE-TAG-ERA vacuum already removed cannot
    // resurrect anything.
    val retainedVs = f.listStatus(manifestDir(root)).toSeq
      .flatMap(_.getPath.getName match {
        case ManifestName(v) => Some(v.toLong)
        case _ => None
      }).toSet
    val taggedVs = tags(spark, root).values.toSet
      .filter(v => v >= 1 && retainedVs.contains(v))
    val windowStart =
      if (taggedVs.isEmpty) retainStart else math.min(retainStart, taggedVs.min)
    // only versions whose manifest still EXISTS: a table vacuumed
    // under the pre-round-15 semantics (tagged version kept, untagged
    // intermediates dropped) has GAPS above the oldest tag — skipping
    // them keeps vacuum runnable instead of throwing on a manifest a
    // prior era already retired
    val keepVs = (windowStart to cur).filter(retainedVs.contains)
    // qualify through the filesystem: listStatus returns scheme-
    // qualified paths (file:/…), manifest resolution does not
    val live = keepVs.flatMap(v => snapshot(spark, root, v).files ++
        dvEntries(spark, root, v).map(e => new Path(root, e._2).toString))
      .map(p => f.makeQualified(new Path(p)).toString).toSet
    val dataRoot = new Path(root, "data")
    if (!f.exists(dataRoot)) return 0
    val cutoff = System.currentTimeMillis() - graceMs
    var deleted = 0
    for (dir <- f.listStatus(dataRoot); st <- f.listStatus(dir.getPath)
         if st.getPath.getName.endsWith(".parquet")
         if st.getModificationTime <= cutoff
         if !live.contains(st.getPath.toString)) {
      if (f.delete(st.getPath, false)) deleted += 1
    }
    // drop manifests older than the kept window so time travel can't
    // resolve to files vacuum just removed — the window already starts
    // at the oldest tag (chain pin), so every surviving manifest's
    // files are live above
    for (st <- f.listStatus(manifestDir(root)))
      st.getPath.getName match {
        case ManifestName(v) if v.toLong < windowStart =>
          f.delete(st.getPath, false)
        case _ => ()
      }
    // shard files referenced by NO retained manifest are dead metadata
    // — same grace window as data files (a concurrent shardManifest
    // writes its shards before the root rename)
    val sd = shardsDir(root)
    if (f.exists(sd)) {
      val liveShards = keepVs.flatMap(v =>
        rawShardLines(spark, root, v).map(l =>
          f.makeQualified(new Path(root, l.split('\t')(1))).toString)).toSet
      for (st <- f.listStatus(sd)
           if st.getModificationTime <= cutoff
           if !liveShards.contains(st.getPath.toString))
        f.delete(st.getPath, false)
    }
    // bloom sidecars: all but the NEWEST build per column are strictly
    // dominated (entries key immutable files; the newest covers the
    // current snapshot best and stays conservative for every older
    // one), so older builds are dead metadata — same grace window
    // (a reader that resolved latestBloomDir just before a fresh
    // build finishes its probe inside the grace period)
    val idxRoot = new Path(root, "_index")
    if (f.exists(idxRoot)) {
      for (colDir <- f.listStatus(idxRoot)
           if colDir.getPath.getName.startsWith("bloom_")) {
        val builds = f.listStatus(colDir.getPath).toSeq.map(_.getPath)
          .filter(_.getName.startsWith("v"))
          .sortBy(_.getName.stripPrefix("v").toLong)
        for (old <- builds.dropRight(1)
             if f.getFileStatus(old).getModificationTime <= cutoff)
          f.delete(old, true)
      }
    }
    // remove now-empty commit directories (cosmetic)
    for (dir <- f.listStatus(dataRoot) if f.listStatus(dir.getPath).isEmpty)
      f.delete(dir.getPath, false)
    deleted
  }
}
