package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Learned BPE tokenization: train merges to a target count, then
  * tokenize WITH the learned merges — the production tokenizer path
  * (t15 computes one merge round; this trains the whole table and
  * applies it).
  *
  * Cross-engine-exact formulation: a word's segmentation is a STRING
  * with every symbol wrapped in private markers, U+0001 before and
  * U+0002 after. Applying a merge (a, b) is then one
  * `replace(seg, enc(a)+enc(b), enc(ab))` — and because each symbol
  * carries its OWN delimiters, plain leftmost non-overlapping
  * `replace` (identical semantics in Spark and DuckDB) IS the
  * standard leftmost-greedy BPE merge application: adjacent matches
  * never share characters, so a run `a a a a a` merges to `aa aa a`
  * exactly like the reference fold. That makes the whole training
  * loop replayable in ANSI SQL (the t20/t21 oracles unroll it round
  * by round).
  *
  * Scale posture: training runs over the DISTINCT-WORD table with
  * instance counts (vocabulary-sized, ~10⁷ rows at web scale — never
  * the token stream). Each round is one narrow pair-count aggregate
  * over the vocabulary whose 1-row argmax is MATERIALIZED
  * executor-side (Ckpt.cut) and folded into the next round's
  * re-segmentation as a broadcast join — the winning pair's VALUE
  * never round-trips through the driver, so a 32k-merge vocabulary
  * is 32k structurally-identical jobs, not 32k collect-and-replan
  * cycles (the r7 verdict's seam, closed); the only per-round driver
  * touch is the empty-check that detects a fully-merged vocabulary.
  * The merge table itself is collected ONCE after the loop (n rows).
  * Re-segmentation is a chained column expression, no shuffle.
  * Encoding joins the (word → pieces) map back to the token stream —
  * the map is vocabulary-sized and broadcastable.
  *
  * ASSUMES the corpus text contains neither U+0001 nor U+0002 (true
  * for the driver testdata; a production run would pre-scrub control
  * chars — t7's territory).
  */
object Bpe {

  final case class Merge(rk: Long, a: String, b: String, cnt: Long)

  private def toks(textCol: String): String =
    s"filter(split($textCol, ' '), x -> x != '')"

  /** Distinct words with instance counts — the BPE training input. */
  def wordCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(expr(toks(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  private val initSegExpr =
    "concat_ws('', transform(sequence(1, length(word)), " +
      "i -> concat(chr(1), substring(word, i, 1), chr(2))))"

  // split the "\u0002\u0001" marker boundary back into the symbol list
  private val symsExpr =
    "split(substring(seg, 2, length(seg) - 2), '\u0002\u0001')"

  /** Train `nMerges` BPE merges over the corpus vocabulary. Returns the
    * ordered merge table and the final (word, cnt, seg) segmentation
    * frame (lazy — its plan embeds the learned replaces since the last
    * lineage cut).
    *
    * `ckptEvery`: every K rounds the segmentation frame is
    * MATERIALIZED (Ckpt.cut) and its predecessor's storage released.
    * Without this the plan accretes one chained `replace` per round —
    * round r re-evaluates r−1 replaces over the vocabulary (O(n²)
    * total work) and an 8k–32k-merge run blows the analyzer up on an
    * 8k-deep expression chain. With it, plan depth is bounded by K,
    * per-round cost is O(vocab) amortized, and wall time is LINEAR in
    * rounds at any merge count (the real-vocabulary-scale contract;
    * sweep-recorded). Semantically transparent — a cut frame holds
    * exactly the rows its plan computed. */
  def train(docs: DataFrame, textCol: String, nMerges: Int,
            ckptEvery: Int = 64): (Seq[Merge], DataFrame) = {
    require(nMerges >= 1, s"nMerges must be >= 1: $nMerges")
    require(ckptEvery >= 1, s"ckptEvery must be >= 1: $ckptEvery")
    val words = wordCounts(docs, textCol)
      .persist() // vocabulary-sized; released by the caller's session hygiene
    var cur = words.withColumn("seg", expr(initSegExpr))
    var lastCut: Option[DataFrame] = None
    val merges = Seq.newBuilder[Merge]
    var rk = 1
    var exhausted = false
    while (rk <= nMerges && !exhausted) {
      // the round's argmax, materialized EXECUTOR-SIDE: its value is
      // consumed by the next round as a 1-row broadcast, never as a
      // driver-collected literal. The exhaustion check AND the merge-
      // table row ride the SAME materializing job as observe metrics
      // (r16): previously every round paid a separate isEmpty job
      // plus a deferred head() job per round — 3 jobs per merge
      // instead of 1 (t20's 8-merge training ran 65 stage-jobs).
      val (top, obs) = graft.Ckpt.cutWith(cur
        .select(col("cnt"), expr(symsExpr).as("syms"))
        // sequence(1, 0) counts DOWN in Spark — filter the index list
        // instead so single-symbol words contribute no pairs
        .select(col("cnt"), explode(expr(
          "transform(filter(sequence(1, size(syms)), i -> i < size(syms)), " +
            "i -> struct(element_at(syms, i) AS a, element_at(syms, i + 1) AS b))"))
          .as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("cnt").as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1)
        .select(lit(rk.toLong).as("rk"), col("a"), col("b"), col("cnt")),
        max(struct(col("a"), col("b"), col("cnt"))))
      // obs = (rows, the row's (a, b, cnt)); no row = nothing left to merge
      if (obs.getLong(0) == 0L) exhausted = true // vocabulary fully merged early
      else {
        val m = obs.getStruct(1)
        merges += Merge(rk.toLong, m.getString(0), m.getString(1), m.getLong(2))
        cur = cur
          .crossJoin(broadcast(top.select(col("a").as("__ma"), col("b").as("__mb"))))
          .withColumn("seg", expr(
            "replace(seg, concat(chr(1), __ma, chr(2), chr(1), __mb, chr(2)), " +
              "concat(chr(1), __ma, __mb, chr(2)))"))
          .drop("__ma", "__mb")
        if (rk % ckptEvery == 0) {
          val cut = graft.Ckpt.cut(cur)
          // the superseded cut can never be read again once its
          // successor is materialized — release its storage, or a
          // 32k-merge run keeps nMerges/K full vocabulary copies live
          lastCut.foreach(graft.Ckpt.release)
          lastCut = Some(cut)
          cur = cut
        }
        rk += 1
      }
    }
    (merges.result(), cur)
  }

  /** (word → pieces) map from a trained segmentation frame: the
    * space-joined piece string and the piece count per word. */
  def pieceMap(trained: DataFrame): DataFrame =
    trained.select(col("word"),
      expr("replace(replace(replace(seg, '\u0002\u0001', ' '), '\u0001', ''), '\u0002', '')")
        .as("pieces"),
      expr(s"size($symsExpr)").cast("long").as("np"))

  /** Tokenize documents with the learned merges: per document, the
    * position-ordered piece stream (space-joined) and total piece
    * count. The map join is vocabulary-sized; the only document-sized
    * exchange is the per-doc aggregation. */
  def encode(docs: DataFrame, idCol: String, textCol: String,
             trained: DataFrame): DataFrame = {
    val ti = docs
      .select(col(idCol).as("doc_id"), posexplode(expr(toks(textCol))))
      .select(col("doc_id"), col("pos"), col("col").as("word"))
    ti.join(pieceMap(trained), Seq("word"))
      .groupBy("doc_id")
      .agg(sum("np").as("n_pieces"),
        expr("array_join(transform(array_sort(collect_list(struct(pos, pieces))), " +
          "x -> x.pieces), ' ')").as("pieces_str"))
  }

  /** DuckDB replay of [[train]]'s loop: `nMerges` unrolled rounds of
    * (pair count → top-1 → replace) CTEs over the `tokall` word table.
    * Emits CTEs `w, s0, p1, t1, s1, …, s<n>`; the caller selects from
    * `t*` (merge table) or `s<n>` (final segmentation). */
  def oracleTrainCtes(nMerges: Int): String = {
    val sb = new StringBuilder
    sb ++= """w AS (SELECT tok AS word, CAST(count(*) AS BIGINT) AS cnt FROM tokall GROUP BY 1),
             |s0 AS (SELECT word, cnt, array_to_string(list_transform(generate_series(1, length(word)),
             |    i -> chr(1) || substr(word, CAST(i AS INT), 1) || chr(2)), '') AS seg FROM w)""".stripMargin
    for (r <- 1 to nMerges) {
      sb ++= s""",
                |p$r AS (SELECT a, b, CAST(sum(cnt) AS BIGINT) AS cnt FROM (
                |    SELECT cnt, syms[CAST(i AS INT)] AS a, syms[CAST(i AS INT) + 1] AS b
                |    FROM (SELECT cnt, string_split(trim(seg, chr(1) || chr(2)), chr(2) || chr(1)) AS syms
                |          FROM s${r - 1}),
                |         unnest(generate_series(1, len(syms) - 1)) AS u(i)
                |  ) GROUP BY 1, 2),
                |t$r AS (SELECT a, b, cnt FROM p$r ORDER BY cnt DESC, a, b LIMIT 1),
                |s$r AS (SELECT word, s.cnt AS cnt,
                |    replace(seg, chr(1) || t.a || chr(2) || chr(1) || t.b || chr(2),
                |            chr(1) || t.a || t.b || chr(2)) AS seg
                |  FROM s${r - 1} s, t$r t)""".stripMargin
    }
    sb.result()
  }

  /** Oracle select over [[oracleTrainCtes]]: the ordered merge table. */
  def oracleMergesSelect(nMerges: Int): String =
    (1 to nMerges).map(r =>
      s"SELECT CAST($r AS BIGINT) AS rk, a, b, cnt FROM t$r")
      .mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY rk")
}
