package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Ckpt

/** Document deduplication family for large-corpus pipelines.
  *
  * Scale posture: every variant avoids the O(n²) cross join — exact
  * dedup is one hash shuffle on a 64-bit content digest; MinHash /
  * SimHash generate candidates by banding with *degenerate-bucket
  * capping* (a bucket larger than `maxBucket` is deterministically
  * truncated, so one hot bucket can never go quadratic through the
  * shuffle); the token-set Jaccard join uses PPJoin-style prefix
  * filtering.
  *
  * All set-based variants additionally run a *signature-dedup* stage
  * first: documents with identical distinct-token sets collapse to one
  * representative (one hash shuffle), pair generation runs over the
  * distinct sets only, and member pairs are expanded afterward. With
  * real corpora (and especially near-duplicate-heavy ones — the whole
  * point of dedup) this removes the quadratic verify work for exact
  * clones while producing byte-identical output to the naive
  * formulation.
  *
  * Hashing convention: MinHash slots and SimHash bits are derived from
  * `md5` hex digits rather than an engine-private hash, so a plain-SQL
  * engine (the DuckDB oracle) can reproduce every signature bit —
  * the LSH pipelines are verified end-to-end, not rows-only.
  *
  * Pair output is for oracle-scale parity; the 100-TB representation
  * is [[exactClusters]]-style (keep_id, member_id) — a clone cluster
  * of size c emits c rows, not O(c²) pairs.
  */
object Dedup {

  /** URL canonicalization — the normalization step web-corpus dedup
    * runs BEFORE content dedup (the same crawl target arrives as
    * `HTTPS://Host/x/?utm_source=…#frag` and `https://host/x?page=1`):
    * strip the fragment, strip `utm_*` tracking params, collapse the
    * path's trailing slash before the query, lowercase. Declarative
    * regexp chain — codegen'd, replayable in ANSI SQL (DuckDB needs
    * the 'g' flag on the multi-match utm strip; Spark replaces all by
    * default). */
  def canonicalUrl(u: Column): Column =
    lower(regexp_replace(regexp_replace(regexp_replace(u,
      "#.*$", ""), "&?utm_[a-z_]+=[^&#]*", ""), "/\\?", "?"))

  /** Exact dedup by canonical URL: one row per canonical target with
    * the surviving (minimum) id and the variant count — one
    * map-side-combined groupBy, no pair enumeration, the d1 shape
    * keyed on [[canonicalUrl]]. */
  def urlDedup(df: DataFrame, idCol: String, urlCol: String): DataFrame =
    df.groupBy(canonicalUrl(col(urlCol)).as("canonical"))
      .agg(min(col(idCol)).as("survivor_id"), count(lit(1)).as("n_urls"))

  /** Exact duplicate groups: one row per distinct content with the
    * surviving (minimum) id and the duplicate count. The group key is
    * (xxhash64(content), content): the 8-byte digest hash-partitions
    * the exchange, and grouping additionally on the content itself
    * makes the merge a true equality check — a 64-bit digest collision
    * (probable at billions of docs by the birthday bound) can never
    * silently fuse two distinct documents. Map-side partial
    * aggregation folds clones before the shuffle, so the content
    * column crosses the exchange once per distinct content per
    * partition, not once per row.
    */
  def exact(df: DataFrame, idCol: String, contentCol: String): DataFrame =
    df.groupBy(xxhash64(col(contentCol)).as("__digest"), col(contentCol).as("__c"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .select("keep_id", "n_copies")

  /** Cluster-table representation of exact dedup: one row per document
    * with the id that survives its clone cluster (min id over equal
    * content). O(n) output — the scale-correct form; a million-copy
    * boilerplate page emits a million rows, not 5·10¹¹ pairs.
    *
    * Every member row crosses the exchange here (unlike [[exact]],
    * there is no pre-shuffle fold), so instead of shipping document
    * bodies the cluster key is the 192-bit composite
    * (xxhash64, md5) of the content — independent hash families, so a
    * silent cluster merge needs a simultaneous collision in both:
    * P ≈ n²/2¹⁹³, about 10⁻³⁹ even at n = 5·10⁹ documents.
    */
  def exactClusters(df: DataFrame, idCol: String, contentCol: String): DataFrame =
    df.select(col(idCol).as("member_id"),
        xxhash64(col(contentCol)).as("__digest"), md5(col(contentCol)).as("__d2"))
      .withColumn("keep_id",
        min(col("member_id")).over(Window.partitionBy("__digest", "__d2")))
      .select("keep_id", "member_id")

  /** Distinct (id, token) pairs from whitespace tokenization. */
  private[operators] def tokens(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
      explode(split(col(textCol), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .distinct()

  /** Signature-dedup stage: collapse identical distinct-token sets.
    *  - members: (setId, id) — every doc mapped to its set
    *  - repTok:  (setId, tok) — the set's tokens (via min-id rep)
    *  - repSize: (setId, sz)
    */
  private def tokenSetGroups(df: DataFrame, idCol: String, textCol: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val tok = tokens(df, idCol, textCol)
    // setId hashes the SORTED token array directly — xxhash64 folds
    // complex types element-wise, so the to_json string build (one
    // JSON document per doc per query) was pure overhead; setId stays
    // a purely internal group key (r16)
    val byDoc = Ckpt.cut(tok.groupBy("id")
      .agg(xxhash64(sort_array(collect_list(col("tok")))).as("setId"),
        count(lit(1)).as("sz")))
    val members = byDoc.select("setId", "id")
    val repIds = byDoc.groupBy("setId").agg(min("id").as("id"), min("sz").as("sz"))
    val repTok = Ckpt.cut(tok.join(repIds.select("setId", "id"), Seq("id"))
      .select("setId", "tok"))
    (members, repTok, repIds.select("setId", "sz"))
  }

  /** Doc pairs within one set (a<b), tagged with a constant payload. */
  private def withinSetPairs(members: DataFrame, payload: (String, org.apache.spark.sql.Column)): DataFrame =
    members.as("x").join(members.as("y"),
        col("x.setId") === col("y.setId") && col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"), payload._2.as(payload._1))

  /** Expand set-level pairs (sa, sb, payload) to doc-level (a<b). */
  private def expandCrossPairs(repPairs: DataFrame, members: DataFrame,
                               payloadCol: String): DataFrame =
    repPairs
      .join(members.select(col("setId").as("sa"), col("id").as("ia")), Seq("sa"))
      .join(members.select(col("setId").as("sb"), col("id").as("ib")), Seq("sb"))
      .select(least(col("ia"), col("ib")).as("a"),
        greatest(col("ia"), col("ib")).as("b"), col(payloadCol))

  /** Degenerate-bucket cap: keep at most `maxBucket` members per
    * bucket, deterministically (smallest `ordCol` first). The window
    * hash-partitions on the bucket key — the same key the candidate
    * self-join uses, so the exchange is reused and the cap adds no
    * extra shuffle. A capped bucket loses candidate pairs beyond the
    * cap (documented recall trade — the standard LSH guard; near-dups
    * past the cap still pair through their other bands).
    */
  def capBuckets(df: DataFrame, bucketCols: Seq[String],
                 ordCol: String, maxBucket: Int): DataFrame =
    if (maxBucket <= 0) df
    // The explicit partition count pins this exchange: AQE's
    // coalescing is byte-based, and the bucket rows here are tiny on
    // the wire but CPU-heavy downstream (pair enumeration + verify) —
    // left to AQE they collapse to one partition and the verify stage
    // serializes (measured: 4.3s single-task vs 1.3s across 32).
    // The aggregate and the candidate self-join both reuse this one
    // exchange.
    //
    // r17: the per-bucket row_number window (a full (bucket, ord) sort
    // of EVERY bucket row) became a bounded-heap aggregate
    // ([[org.apache.spark.sql.graftbridge.BoundedTopKRows]], guide §2
    // "aggregate, don't sort"): each group's buffer holds at most
    // `maxBucket` entries at every stage, so a degenerate million-row
    // bucket costs k heap entries instead of a million-row sort spill.
    // Selection is EXACTLY the window's wherever `ordCol` is unique
    // within its bucket — audited at every call site (ids, setIds,
    // sigKeys, __ord composites: all unique per bucket by
    // construction); the struct's remaining fields are a deterministic
    // total-order tiebreak, never the window's partition-order one.
    else {
      // caller names are quoted, never parsed: a column named `a.b`
      // is that column, not field b of a struct a
      def ref(c: String) = col("`" + c.replace("`", "``") + "`")
      val others = df.columns.filterNot(bucketCols.contains).toSeq
      val fields = // heap key first, each source column exactly once
        if (others.contains(ordCol)) ordCol +: others.filterNot(_ == ordCol)
        else ordCol +: others
      val tk = org.apache.spark.sql.graftbridge.BoundedTopK
        .bounded_topk(maxBucket, struct(fields.map(ref): _*))
      df.repartition(df.sparkSession.sparkContext.defaultParallelism,
          bucketCols.map(ref): _*)
        .groupBy(bucketCols.map(ref): _*)
        .agg(tk.as("__tk"))
        .select(bucketCols.map(ref) :+ explode(col("__tk")).as("__e"): _*)
        .select(df.columns.toSeq.map(c =>
          if (bucketCols.contains(c)) ref(c) else col("__e").getField(c).as(c)): _*)
    }

  /** Dictionary-encode each distinct token set as a 64-bit mask when
    * the vocabulary fits (V <= 64): intersection becomes
    * `bit_count(a & b)` — one codegen'd instruction instead of a
    * token-level join. Returns None when the vocabulary is too large.
    */
  private def setMasks(repTok: DataFrame, repSize: DataFrame): Option[DataFrame] = {
    val vocab = repTok.select("tok").distinct()
    if (vocab.count() > 64) None
    else {
      val dict = vocab.withColumn("tokid", row_number().over(
        Window.orderBy("tok")) - 1)
      Some(Ckpt.cut(repTok.join(broadcast(dict), Seq("tok"))
        .groupBy("setId")
        .agg(sum(expr("shiftleft(CAST(1 AS BIGINT), tokid)")).as("mask"))
        .join(repSize, Seq("setId"))))
    }
  }

  /** True-Jaccard verification over candidate set pairs; returns
    * (sa, sb, jaccard) with the threshold applied (unrounded).
    * Uses the bitmask path when provided, else the token join. */
  private def verifySetJaccard(cand: DataFrame, repTok: DataFrame, repSize: DataFrame,
                               masks: Option[DataFrame], threshold: Double): DataFrame =
    masks match {
      case Some(m) =>
        cand
          .join(m.select(col("setId").as("sa"), col("mask").as("ma"),
            col("sz").as("sza")), Seq("sa"))
          .join(m.select(col("setId").as("sb"), col("mask").as("mb"),
            col("sz").as("szb")), Seq("sb"))
          .withColumn("n", expr("CAST(bit_count(ma & mb) AS BIGINT)"))
          .withColumn("jaccard", col("n").cast("double") / (col("sza") + col("szb") - col("n")))
          .filter(col("jaccard") >= threshold)
      case None =>
        // per-pair array_intersect over the materialized distinct-
        // token arrays (r16): |A∩B| is computed in one hashed pass
        // per candidate pair instead of exploding every pair to its
        // tokens through a (pairs × set width) shuffle + count
        // aggregate — the same exact cardinality (arrays hold the
        // DISTINCT tokens), jaccard arithmetic unchanged. The array
        // table is one row per distinct set — the representation a
        // deployment materializes next to the LSH index anyway.
        val repArr = Ckpt.cutLight(repTok.groupBy("setId")
          .agg(collect_list(col("tok")).as("toks")))
        cand
          .join(repArr.select(col("setId").as("sa"), col("toks").as("__ta")), Seq("sa"))
          .join(repArr.select(col("setId").as("sb"), col("toks").as("__tb")), Seq("sb"))
          .withColumn("n", expr("CAST(size(array_intersect(__ta, __tb)) AS BIGINT)"))
          .withColumn("jaccard",
            col("n").cast("double") / (size(col("__ta")) + size(col("__tb")) - col("n")))
          .filter(col("jaccard") >= threshold)
          .drop("__ta", "__tb")
    }

  /** PPJoin prefix-filter candidate generation: tokens ordered
    * rarest-first; only the first `|A| - ceil(t*|A|) + 1` tokens of a
    * set generate candidates — exact, no false negatives. */
  private def prefixFilterCandidates(repTok: DataFrame, repSize: DataFrame,
                                     threshold: Double): DataFrame = {
    val freq = repTok.groupBy("tok").agg(count(lit(1)).as("freq"))
    val ranked = repTok.join(freq, "tok")
      .withColumn("rk", row_number().over(
        Window.partitionBy("setId").orderBy(asc("freq"), asc("tok"))))
    val prefix = ranked.join(repSize, "setId")
      .filter(col("rk") <= col("sz") - ceil(lit(threshold) * col("sz")) + 1)
      .select("setId", "tok")
    prefix.as("a").join(prefix.as("b"),
        col("a.tok") === col("b.tok") && col("a.setId") < col("b.setId"))
      .select(col("a.setId").as("sa"), col("b.setId").as("sb")).distinct()
  }

  /** THE public front door for Jaccard near-dup detection — routes to
    * the SCALE tier: MinHash banded-LSH candidate generation with
    * exact true-Jaccard verification of every candidate
    * ([[minhashLshPairs]]). Precision is exact (every emitted pair
    * really clears `threshold`); recall is the standard LSH band
    * bound (a >= threshold pair is missed only if it collides in no
    * band — vanishingly rare at 128/32 for thresholds ≥ 0.7).
    *
    * Candidates come from equality joins on (band, signature) buckets
    * ONLY — the plan contains no pair-join over raw token sets, no
    * nested-loop, no cartesian (JaccardFrontDoorSpec pins this), so
    * cost stays O(docs × bands) through every exchange at any scale.
    * Callers who need oracle-exact recall (a verification tier, a
    * legal hold) must opt in BY NAME to [[ngramJaccardPairsExact]] —
    * the round-5 10× sweep measured that tier at 25 min where this
    * path took seconds, which is why it is no longer the default.
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   threshold: Double, numHashes: Int = 128, bands: Int = 32,
                   maxBucket: Int = 4096): DataFrame =
    minhashLshPairs(df, idCol, textCol, numHashes, bands, threshold, maxBucket)

  /** EXACT/ORACLE tier of [[jaccardPairs]] — full-recall Jaccard
    * pairs by token-set Jaccard >= `threshold`: signature dedup, then
    * candidate generation, then verification and member expansion.
    * Quadratic WITHIN candidate buckets (all-distinct-sets under
    * `maxMaskSets`, shared rare prefix tokens above) — the documented
    * baseline the LSH tier is verified against, NOT the production
    * path at corpus scale.
    *
    * The all-pairs bitmask fast path is taken only when BOTH the
    * vocabulary fits 64 bits AND the distinct-set count is at most
    * `maxMaskSets` — a small vocabulary does not bound the number of
    * distinct sets, and S² over millions of schema-like sets is death
    * at corpus scale. Above the bound, prefix filtering generates
    * candidates (bounded by sets sharing a rare prefix token) and the
    * bitmask is still used for O(1) verification.
    */
  def ngramJaccardPairsExact(df: DataFrame, idCol: String, textCol: String,
                        threshold: Double, maxMaskSets: Long = 8192): DataFrame = {
    val (members, repTok, repSize) = tokenSetGroups(df, idCol, textCol)
    val masks = setMasks(repTok, repSize)

    val repPairs = masks match {
      case Some(m) if m.count() <= maxMaskSets =>
        // tiny vocabulary AND bounded set count: prefix filtering can't
        // prune (every pair shares tokens), but popcount over
        // dictionary bitmasks makes the all-distinct-sets comparison
        // one codegen'd instruction per pair
        m.as("a").join(m.as("b"), col("a.setId") < col("b.setId"))
          .select(col("a.setId").as("sa"), col("b.setId").as("sb"),
            expr("CAST(bit_count(a.mask & b.mask) AS BIGINT)").as("n"),
            col("a.sz").as("sza"), col("b.sz").as("szb"))
          .withColumn("jaccard", col("n").cast("double") / (col("sza") + col("szb") - col("n")))
          .filter(col("jaccard") >= threshold)
      case _ =>
        verifySetJaccard(prefixFilterCandidates(repTok, repSize, threshold),
          repTok, repSize, masks, threshold)
    }

    val cross = expandCrossPairs(repPairs, members, "jaccard")
    val within = withinSetPairs(members, "jaccard" -> lit(1.0))
    cross.union(within)
      .select(col("a"), col("b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** MinHash + banded LSH near-duplicate pairs, verified by true
    * Jaccard >= `threshold`. `numHashes` hash slots in `bands` bands;
    * a pair is a candidate when any band signature collides. Slots
    * come from the classic affine permutation family over ONE
    * md5-derived 31-bit base hash per DISTINCT token:
    * slot_i = (Aᵢ·h + Bᵢ) mod P with P = 2³¹−1 — every product stays
    * under 2⁶² (no overflow on any ANSI engine) and the whole
    * construction is reproducible by the plain-SQL oracle (md5 +
    * affine arithmetic; no engine-private hash). One md5 per token
    * instead of numHashes/4 — the permutations are arithmetic, not
    * digests. Identical token sets share every band trivially, so
    * they are collapsed first and expanded at the end; buckets larger
    * than `maxBucket` are capped (degenerate-bucket guard).
    */
  val MinhashP = 2147483647L // 2³¹ − 1

  /** Deterministic (Aᵢ, Bᵢ) coefficient streams, shared verbatim by
    * the DuckDB oracle generator so both engines evaluate the exact
    * same permutations. */
  def minhashCoeffs(n: Int): (IndexedSeq[Long], IndexedSeq[Long]) = (
    (1 to n).map { i =>
      val a = (2654435761L * i + 1013904223L) % MinhashP
      if (a == 0L) 1L else a
    },
    (1 to n).map(i => (1103515245L * i + 12345L) % MinhashP))

  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      numHashes: Int, bands: Int, threshold: Double,
                      maxBucket: Int = 4096): DataFrame = {
    val (members, repPairs) = minhashSetPairs(df, idCol, textCol,
      numHashes, bands, threshold, maxBucket)
    val cross = expandCrossPairs(repPairs, members, "jaccard")
    val within = withinSetPairs(members, "jaccard" -> lit(1.0))
    cross.union(within)
      .select(col("a"), col("b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Per-set minhash signature vectors. One md5 per DISTINCT token
    * (vocab ≪ (set, token) pairs), first 8 hex digits → 31-bit base
    * hash; the numHashes slots are affine permutations of it,
    * evaluated as a codegen'd literal array. The per-set min is then
    * `numHashes` columnar min() aggregates in ONE shuffle of the
    * (set, token) pairs — no ×numHashes row explosion through the
    * exchange. */
  private def setMinhashes(repTok: DataFrame, numHashes: Int): DataFrame = {
    val (ca, cb) = minhashCoeffs(numHashes)
    val tokVec = repTok.select("tok").distinct()
      .withColumn("h0",
        expr(s"CAST(conv(substr(md5(tok), 1, 8), 16, 10) AS BIGINT) % $MinhashP"))
      .select(col("tok"), array((0 until numHashes).map(i =>
        (lit(ca(i)) * col("h0") + lit(cb(i))) % MinhashP): _*).as("hv"))
    repTok.join(tokVec, Seq("tok"))
      .groupBy("setId")
      .agg(array((0 until numHashes).map(i => min(expr(s"hv[$i]"))): _*).as("mh"))
  }

  /** Set-level core of [[minhashLshPairs]]: returns (members, verified
    * set pairs (sa, sb, jaccard)). Shared by the pair-emitting oracle
    * surface and the [[fuzzyClusters]] scale path, which must never
    * expand a clone cluster into O(c²) doc pairs.
    */
  private def minhashSetPairs(df: DataFrame, idCol: String, textCol: String,
                              numHashes: Int, bands: Int, threshold: Double,
                              maxBucket: Int): (DataFrame, DataFrame) = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    val (members, repTok, repSize) = tokenSetGroups(df, idCol, textCol)

    // One md5 per DISTINCT token (vocab ≪ (set, token) pairs), first
    // 8 hex digits → 31-bit base hash; the numHashes slots are affine
    // permutations of it, evaluated as a codegen'd literal array. The
    // per-set min is then `numHashes` columnar min() aggregates in
    // ONE shuffle of the (set, token) pairs — no ×numHashes row
    // explosion through the exchange.
    val mins = setMinhashes(repTok, numHashes)

    // SECOND-LEVEL signature dedup: distinct token sets whose ENTIRE
    // minhash vector coincides band-collide trivially (tiny-vocab /
    // near-identical corpora produce thousands of such sets), so
    // candidate generation runs over DISTINCT signatures only and
    // set pairs are expanded afterwards. Without this, a degenerate
    // corpus pushes |sets|²·bands rows through the bucket self-join
    // and its distinct (measured: 63M pre-distinct rows at sf0.1);
    // with it, the join sees one row per distinct signature per band
    // and the expansion is shuffle-free pair enumeration. Output is
    // byte-identical — signature-sharing sets were all candidates
    // anyway, and every pair still goes through true-Jaccard verify.
    // Group membership is capped with the SAME bound as the band
    // buckets: a signature group is a guaranteed-candidate clique, so
    // uncapped within/cross-group expansion would be exactly the
    // quadratic blowup the bucket cap exists to prevent (a million
    // boilerplate near-dups in one group → 5·10¹¹ pairs). Sets beyond
    // the cap lose LSH candidacy — the documented recall trade; exact
    // clones still collapse via the token-set stage above.
    val sigged = Ckpt.cut(mins.withColumn("sigKey", xxhash64(col("mh"))))
    val cand = sigCandidates(sigged, bands, rows, maxBucket, None)

    (members,
      verifySetJaccard(cand, repTok, repSize, setMasks(repTok, repSize), threshold))
  }

  /** Signature-level LSH candidate generation shared by the full
    * ([[minhashSetPairs]]) and incremental
    * ([[incrementalMinhashPairs]]) paths: `sigged` carries one row per
    * distinct token set (setId, mh, sigKey). Group membership and band
    * buckets are deduped to DISTINCT signatures and capped over the
    * FULL population first; when `probeGroups` (a frame with a
    * `sigKey` column) is given, only those groups' band rows probe the
    * index afterwards. Because the caps never see the probe filter,
    * the probed output is EXACTLY the full run's candidates restricted
    * to pairs touching a probe group — the invariant the incremental
    * oracle pins, including at cap boundaries.
    */
  private def sigCandidates(sigged: DataFrame, bands: Int, rows: Int,
                            maxBucket: Int,
                            probeGroups: Option[DataFrame]): DataFrame = {
    val gmembers = capBuckets(sigged.select("sigKey", "setId"),
      Seq("sigKey"), "setId", maxBucket)
    val reps = sigged.withColumn("__rn", row_number().over(
        Window.partitionBy("sigKey").orderBy("setId")))
      .filter(col("__rn") === 1).select("sigKey", "mh")

    // band signature = the band's minhashes in slot order, as a string
    // (cross-engine equality; no engine-private hash). An ARRAY<BIGINT>
    // slice key was tried in r16 (bijective with the string, so
    // bucket-identical) and REVERTED: the array-keyed cap window +
    // self-join measured slower than the string path (d3 summed task
    // time 53 s → 59 s), not faster.
    val sig = Ckpt.cut(reps.select(col("sigKey"), explode(expr(
        s"transform(sequence(0, ${bands - 1}), b -> struct(b AS band, " +
          s"array_join(transform(sequence(0, ${rows - 1}), r -> CAST(mh[b * $rows + r] AS STRING)), ',') AS sig))")).as("bs"))
      .select(col("sigKey"), col("bs.band").as("band"), col("bs.sig").as("sig")))

    val capped = capBuckets(sig, Seq("band", "sig"), "sigKey", maxBucket)
    // full run: a strict `<` emits each unordered bucket pair ONCE —
    // the old `=!=` + least/greatest emitted both orders and doubled
    // the pre-distinct candidate volume through the dedup exchange
    // (measured 34.7M rows at sf0.1, the single largest shuffle of
    // the minhash family; r16). The probed (incremental) path keeps
    // `=!=`: its asymmetric probe side would miss pairs whose probe
    // member carries the larger key.
    val candG = (probeGroups match {
      case None =>
        capped.as("a").join(capped.as("b"),
            col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
              col("a.sigKey") < col("b.sigKey"))
          .select(col("a.sigKey").as("ga"), col("b.sigKey").as("gb"))
      case Some(p) =>
        capped.join(p.select("sigKey"), Seq("sigKey"), "left_semi")
          .as("a").join(capped.as("b"),
            col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
              col("a.sigKey") =!= col("b.sigKey"))
          .select(least(col("a.sigKey"), col("b.sigKey")).as("ga"),
            greatest(col("a.sigKey"), col("b.sigKey")).as("gb"))
    }).distinct()
    // expand signature-group pairs to set pairs; groups partition the
    // sets, so cross-group + within-group pairs are disjoint — no
    // dedup pass needed
    val crossSets = candG
      .join(gmembers.select(col("sigKey").as("ga"), col("setId").as("xa")), Seq("ga"))
      .join(gmembers.select(col("sigKey").as("gb"), col("setId").as("xb")), Seq("gb"))
      .select(least(col("xa"), col("xb")).as("sa"), greatest(col("xa"), col("xb")).as("sb"))
    val withinGroups = probeGroups.map(p =>
      gmembers.join(p.select("sigKey"), Seq("sigKey"), "left_semi")).getOrElse(gmembers)
    val withinSets = withinGroups.as("x").join(gmembers.as("y"),
        col("x.sigKey") === col("y.sigKey") && col("x.setId") < col("y.setId"))
      .select(col("x.setId").as("sa"), col("y.setId").as("sb"))
    crossSets.union(withinSets)
  }

  /** Fuzzy-dedup CLUSTER table — the 100-TB deliverable of MinHash
    * dedup: (keep_id, member_id) for EVERY document, where keep_id is
    * the minimum doc id of the document's near-duplicate component
    * (connected components over the verified Jaccard-similarity graph
    * of [[minhashLshPairs]], transitively closed: A~B and B~C cluster
    * A,B,C together even when A and C never band-collide).
    *
    * Scale shape: everything runs at the DISTINCT-TOKEN-SET level —
    * candidate generation, verification, and the component
    * contraction ([[graft.graph.GraphOps.connectedComponents]],
    * O(log n) levels) see one node per distinct set, and the final
    * member join expands each set's component label to its documents
    * in one hash join. A million-copy boilerplate cluster therefore
    * costs O(c) rows end-to-end, never the O(c²) pairs the
    * pair-emitting surface would produce. Documents with no tokens
    * pass through as singletons.
    */
  def fuzzyClusters(df: DataFrame, idCol: String, textCol: String,
                    numHashes: Int, bands: Int, threshold: Double,
                    maxBucket: Int = 4096): DataFrame = {
    val (members, repPairs) = minhashSetPairs(df, idCol, textCol,
      numHashes, bands, threshold, maxBucket)
    val comp = graft.graph.GraphOps.connectedComponents(
      repPairs.select(col("sa").as("src"), col("sb").as("dst")))
    val clustered = members
      .join(comp.withColumnRenamed("node", "setId"), Seq("setId"), "left")
      .withColumn("grp", coalesce(col("component"), col("setId")))
      .withColumn("keep_id", min("id").over(Window.partitionBy("grp")))
      .select(col("keep_id"), col("id").as("member_id"))
    val tokenless = df.select(col(idCol).as("member_id"))
      .join(members.select(col("id").as("member_id")), Seq("member_id"), "left_anti")
      .select(col("member_id").as("keep_id"), col("member_id"))
    clustered.unionByName(tokenless)
  }

  /** INCREMENTAL MinHash near-dup pairs — the fuzzy complement of the
    * exact-digest incremental tier: every verified pair that touches
    * the NEW batch, without enumerating existing×existing candidates.
    * The batch's band rows PROBE the full band index (in production
    * the existing side's signatures are the persisted LSH index —
    * only the probe side is computed fresh; here both derive from
    * their frames, the join shape is the same): candidates =
    * batch-side buckets ⋈ all buckets, so candidate volume scales
    * with |batch| · bucket-width, not |corpus|². Verification,
    * thresholds, caps, and clone expansion are identical to
    * [[minhashLshPairs]] — output equals the full run filtered to
    * pairs touching the batch (the invariant the oracle pins, via
    * the full pair CTE filtered on the batch predicate).
    */
  def incrementalMinhashPairs(existing: DataFrame, batch: DataFrame,
                              idCol: String, textCol: String,
                              numHashes: Int, bands: Int, threshold: Double,
                              maxBucket: Int = 4096): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val tagged = existing.select(col(idCol), col(textCol)).withColumn("__new", lit(0))
      .unionByName(batch.select(col(idCol), col(textCol)).withColumn("__new", lit(1)))
    val (members, repTok, repSize) = tokenSetGroups(tagged, idCol, textCol)
    val flags = tagged.select(col(idCol).as("id"), col("__new"))
    val newSets = members.join(flags, Seq("id"))
      .groupBy("setId").agg(max("__new").as("hasNew"))

    // same signature-dedup + cap machinery as the full run (caps are
    // computed over the full population BEFORE the probe filter, so
    // probe output ≡ full output filtered — the oracle's invariant);
    // only signature groups containing a new set probe the band index
    val mins = setMinhashes(repTok, numHashes)
    val sigged = Ckpt.cut(mins.withColumn("sigKey", xxhash64(col("mh"))))
    val probeGroups = sigged
      .join(newSets.filter(col("hasNew") === 1).select("setId"), Seq("setId"), "left_semi")
      .select("sigKey").distinct()
    val cand = sigCandidates(sigged, bands, numHashes / bands, maxBucket,
      Some(probeGroups))
    val verified = verifySetJaccard(cand, repTok, repSize,
      setMasks(repTok, repSize), threshold)

    val cross = expandCrossPairs(verified, members, "jaccard")
    val within = withinSetPairs(members, "jaccard" -> lit(1.0))
    cross.union(within)
      .join(flags.select(col("id").as("a"), col("__new").as("na")), Seq("a"))
      .join(flags.select(col("id").as("b"), col("__new").as("nb")), Seq("b"))
      .filter(col("na") === 1 || col("nb") === 1)
      .select(col("a"), col("b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Directed prefix-filter candidates for containment: if
    * |Tᵢ ∩ Tₒ| ≥ θ·|Tᵢ| then the rarest-first prefix of Tᵢ of size
    * |Tᵢ| − ⌈θ·|Tᵢ|⌉ + 1 must intersect Tₒ — so only the needle
    * side's prefix probes the full token index. Exact: no false
    * negatives. */
  private def containmentPrefixCandidates(repTok: DataFrame, repSize: DataFrame,
                                          threshold: Double): DataFrame = {
    val freq = repTok.groupBy("tok").agg(count(lit(1)).as("freq"))
    val prefix = repTok.join(freq, "tok")
      .withColumn("rk", row_number().over(
        Window.partitionBy("setId").orderBy(asc("freq"), asc("tok"))))
      .join(repSize, "setId")
      .filter(col("rk") <= col("sz") - ceil(lit(threshold) * col("sz")) + 1)
      .select(col("setId").as("si"), col("tok"))
    prefix.join(repTok.select(col("setId").as("so"), col("tok")), Seq("tok"))
      .filter(col("si") =!= col("so"))
      .select("si", "so").distinct()
  }

  /** Asymmetric containment near-dup pairs — quote/subset detection:
    * (needle_id, hay_id, containment) for every ordered doc pair with
    * |T(needle) ∩ T(hay)| / |T(needle)| ≥ `threshold`. The symmetric
    * Jaccard of [[ngramJaccardPairsExact]] misses a short document quoted
    * inside a long one (the union dilutes); containment is the
    * measure corpus pipelines use for that case. Same machinery:
    * signature dedup first, directed prefix-filter candidates (the
    * needle's rarest-prefix probes the token index), popcount
    * verification when the vocabulary fits 64 bits, token-join
    * otherwise. Identical-set clones are mutual containment 1.0 and
    * expand pair-enumeration-only (no join).
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       threshold: Double, maxMaskSets: Long = 8192): DataFrame = {
    val (members, repTok, repSize) = tokenSetGroups(df, idCol, textCol)
    val masks = setMasks(repTok, repSize)
    val cand = masks match {
      case Some(m) if m.count() <= maxMaskSets =>
        m.select(col("setId").as("si"))
          .join(m.select(col("setId").as("so")), col("si") =!= col("so"))
      case _ => containmentPrefixCandidates(repTok, repSize, threshold)
    }
    val verified = (masks match {
      case Some(m) =>
        cand
          .join(m.select(col("setId").as("si"), col("mask").as("mi"),
            col("sz").as("szi")), Seq("si"))
          .join(m.select(col("setId").as("so"), col("mask").as("mo")), Seq("so"))
          .withColumn("n", expr("CAST(bit_count(mi & mo) AS BIGINT)"))
      case None =>
        // per-pair array_intersect over materialized token arrays —
        // same rewrite as verifySetJaccard's token-join branch (r16)
        val repArr = Ckpt.cutLight(repTok.groupBy("setId")
          .agg(collect_list(col("tok")).as("toks")))
        cand
          .join(repArr.select(col("setId").as("si"), col("toks").as("__ti")), Seq("si"))
          .join(repArr.select(col("setId").as("so"), col("toks").as("__to")), Seq("so"))
          .withColumn("n", expr("CAST(size(array_intersect(__ti, __to)) AS BIGINT)"))
          .withColumn("szi", size(col("__ti")).cast("long"))
          .drop("__ti", "__to")
    })
      .withColumn("containment", col("n").cast("double") / col("szi"))
      .filter(col("containment") >= threshold)
    val cross = verified
      .join(members.select(col("setId").as("si"), col("id").as("needle_id")), Seq("si"))
      .join(members.select(col("setId").as("so"), col("id").as("hay_id")), Seq("so"))
      .select("needle_id", "hay_id", "containment")
    val within = members.as("x").join(members.as("y"),
        col("x.setId") === col("y.setId") && col("x.id") =!= col("y.id"))
      .select(col("x.id").as("needle_id"), col("y.id").as("hay_id"),
        lit(1.0).as("containment"))
    cross.union(within)
      .select(col("needle_id"), col("hay_id"),
        round(col("containment"), 4).as("containment"))
  }

  /** 60-bit SimHash near-duplicate pairs: candidates share at least
    * one of 4 15-bit bands (exact for hamming distance <= 3 by
    * pigeonhole), verified by `bit_count(xor) <= maxHamming`.
    * Bits come from `md5(tok)` hex digits (oracle-reproducible); 60
    * bits rather than 64 keeps every value, shift, and sum inside
    * non-overflowing signed-64 range on any ANSI engine. Signature
    * dedup as above — identical sets have identical simhash.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, maxBucket: Int = 4096): DataFrame = {
    val (members, repTok, _) = tokenSetGroups(df, idCol, textCol)
    // bit b of md5(tok): hex digit b/4, bit b%4 within the digit.
    // Computed once per DISTINCT token as a ±1 vector (vocab ≪
    // (set, token) pairs), then summed per set as 60 columnar sum()
    // aggregates in one shuffle — no ×60 row explosion through the
    // exchange.
    val tokBits = repTok.select("tok").distinct()
      .withColumn("h", md5(col("tok")))
      .select(col("tok"), expr(
        "transform(sequence(0, 59), b -> " +
          "CASE WHEN (CAST(conv(substr(h, CAST(b div 4 AS INT) + 1, 1), 16, 10) AS BIGINT) div shiftleft(CAST(1 AS BIGINT), b % 4)) % 2 = 1 THEN 1 ELSE -1 END)").as("bv"))
    val bitSums = repTok.join(tokBits, Seq("tok"))
      .groupBy("setId")
      .agg(array((0 until 60).map(b => sum(expr(s"bv[$b]"))): _*).as("sv"))
    val sim = Ckpt.cut(bitSums.select(col("setId"), expr(
      "aggregate(sequence(0, 59), CAST(0 AS BIGINT), (acc, b) -> " +
        "acc + CASE WHEN sv[b] >= 0 THEN shiftleft(CAST(1 AS BIGINT), b) ELSE CAST(0 AS BIGINT) END)").as("simhash")))

    val preBand = sim.withColumn("band", explode(expr(
      "transform(sequence(0, 3), k -> struct(k AS k, (shiftright(simhash, k*15) & 32767) AS bh))")))
      .select(col("setId"), col("simhash"), col("band.k").as("k"), col("band.bh").as("bh"))
    // cap OBSERVABILITY: the recall trade must be visible in output,
    // not just a contract comment — every pair row carries how many
    // band buckets the cap bound and how many bucket rows it dropped
    // (both 0 wherever the oracle compare runs; nonzero values are
    // the signal to raise the cap or route through the exact tier).
    // One extra map-side-combined aggregate over the pre-cap bucket
    // table, broadcast onto the output as a 1-row join.
    val capStats = preBand.groupBy("k", "bh").agg(count(lit(1)).as("n"))
      .agg(coalesce(sum(when(col("n") > maxBucket, 1L).otherwise(0L)), lit(0L))
          .as("n_capped_buckets"),
        coalesce(sum(greatest(col("n") - maxBucket, lit(0L))), lit(0L))
          .as("n_dropped_rows"))
    val banded = preBand
      .transform(capBuckets(_, Seq("k", "bh"), "setId", maxBucket))

    // hamming filter BEFORE distinct: prune candidate volume ahead of
    // the dedup shuffle (a pair can collide in <= 4 bands)
    val repPairs = banded.as("a").join(banded.as("b"),
        col("a.k") === col("b.k") && col("a.bh") === col("b.bh") &&
          col("a.setId") < col("b.setId"))
      .select(col("a.setId").as("sa"), col("b.setId").as("sb"),
        expr("CAST(bit_count(a.simhash ^ b.simhash) AS BIGINT)").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()

    expandCrossPairs(repPairs, members, "hamming")
      .union(withinSetPairs(members, "hamming" -> lit(0L)))
      .crossJoin(broadcast(capStats))
  }

  /** Embedding-cosine near-duplicate pairs (cosine >= `threshold`).
    * Exact all-pairs formulation with codegen'd vector math for
    * oracle parity; the bucketed scale path is [[Similarity.knnLsh]].
    */
  def embeddingCosinePairs(df: DataFrame, idCol: String, vecCol: String,
                           threshold: Double): DataFrame = {
    import org.apache.spark.sql.graftbridge.VectorFunctions.{vec_cosine, vec_norm}
    val withNorm = df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("nrm", vec_norm(col("v")))
    val a = withNorm.select(col("id").as("a"), col("v").as("va"), col("nrm").as("na"))
    val b = withNorm.select(col("id").as("b"), col("v").as("vb"), col("nrm").as("nb"))
    a.join(b, col("a") < col("b"))
      .withColumn("cosine", vec_cosine(col("va"), col("vb"), col("na"), col("nb")))
      .filter(col("cosine") >= threshold)
      .select(col("a"), col("b"), round(col("cosine"), 4).as("cosine"))
  }

  /** Near-duplicate pairs by RELATIVE edit distance: candidates are
    * documents sharing a winnowed long-gram fingerprint
    * ([[TextAnalysis.fingerprintsMod]] — any shared substring of
    * length ≥ k+w−1 guarantees candidacy), verified by exact
    * Levenshtein with the all-integer test dist·denom ≤ num·max(len).
    * The verify step is the expensive O(len²) part, so it runs only
    * on fingerprint-colliding pairs — the classic
    * sketch-then-verify split; the threshold is a ratio of BIGINTs,
    * bit-stable on any engine. Buckets above `maxBucket` are capped
    * (degenerate-bucket guard, armed above the tested corpus
    * degeneracy so the oracle — which never caps — agrees at every
    * tested SF).
    */
  def editDistancePairs(df: DataFrame, idCol: String, textCol: String,
                        k: Int = 20, w: Int = 8,
                        num: Int = 1, denom: Int = 5,
                        maxBucket: Int = 4096): DataFrame = {
    val fp = TextAnalysis.fingerprintsMod(df, idCol, textCol, k, w)
    val capped = capBuckets(fp, Seq("fp"), "doc_id", maxBucket)
    // Pair dedup via capBuckets(·, 1) — NOT .distinct(): pair rows
    // are tiny on the wire but each costs an O(len²) Levenshtein
    // downstream, and AQE's byte-based coalescing collapsed the
    // distinct output to ONE partition (measured 109s single-task vs
    // 6s across 32 at sf0.1). A plain explicit repartition doesn't
    // survive either — the Levenshtein FILTER pushes below it into
    // the collapsed map side, and under a broadcast-probe the
    // exchange converts to a local read. capBuckets' pinned exchange
    // + window consumes the distribution, so the verify provably
    // runs at full width.
    val cand = capBuckets(
      capped.as("fa").join(capped.as("fb"),
          col("fa.fp") === col("fb.fp") && col("fa.doc_id") < col("fb.doc_id"))
        .select(col("fa.doc_id").as("a"), col("fb.doc_id").as("b")),
      Seq("a", "b"), "a", 1)
    val t = df.select(col(idCol).as("id"), col(textCol).as("txt"))
    // THRESHOLDED Levenshtein (r16): dist·denom ≤ mx·num ⟺ dist ≤
    // ⌊mx·num/denom⌋ (dist integral), so the 3-arg banded form —
    // O(len·threshold) row work with an early −1 on the length-diff
    // and band aborts, instead of the full O(len²) matrix — selects
    // EXACTLY the same pairs and reports the same exact distance for
    // every kept pair (−1 only marks pairs the old filter dropped).
    // Measured: the verify stage was 131 s of summed task time at
    // sf0.1 — the single most compute-bound stage in the suite.
    cand
      .join(t.as("ta"), col("a") === col("ta.id"))
      .join(t.as("tb"), col("b") === col("tb.id"))
      .select(col("a"), col("b"),
        expr(s"levenshtein(ta.txt, tb.txt, " +
          s"CAST(greatest(length(ta.txt), length(tb.txt)) * $num div $denom AS INT))")
          .cast("long").as("dist"))
      .filter(col("dist") >= 0)
      .select("a", "b", "dist")
  }

  /** Per-document duplicated-substring profile (the Lee et al. 2022
    * "Deduplicating Training Data" diagnostic, winnowing-sketched):
    * for each document, how many of its winnowed long-gram
    * fingerprints also occur in at least one OTHER document, and the
    * duplication ratio in integer basis points. Two shuffles total —
    * fingerprint document-frequency (map-side combined), then the
    * per-doc rollup — both keyed small; no pair enumeration at all,
    * so the plan is linear in corpus size regardless of how
    * duplicative the corpus is.
    */
  def substringDupProfile(df: DataFrame, idCol: String, textCol: String,
                          k: Int = 20, w: Int = 8): DataFrame = {
    val fp = TextAnalysis.fingerprintsMod(df, idCol, textCol, k, w)
    // doc frequency as a count-over-partition instead of
    // aggregate+join-back: ONE exchange on fp carries both (fp is
    // already distinct per (doc, fp), so the partition size IS the
    // doc frequency); the join formulation shuffles the fingerprint
    // stream twice and runs the hashing UDF once per branch
    fp.withColumn("ndocs", count(lit(1)).over(Window.partitionBy("fp")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_fp"),
        sum(when(col("ndocs") > 1, 1L).otherwise(0L)).as("n_shared"))
      .withColumn("dup_bp", expr("n_shared * 10000 div n_fp"))
  }

  /** 128-bit gram key for the span-dedup exchange: two independent
    * xxhash64 lanes (the second seeded by a distinct literal lane
    * tag), codegen'd map-side — 16 bytes on the wire per occurrence
    * instead of the k-char gram text. `digest=false` keeps the raw
    * text key (the spec's ground-truth path).
    */
  private def gramKey(gram: Column, digest: Boolean): Column =
    if (digest) struct(xxhash64(gram).as("h1"), xxhash64(lit("g2"), gram).as("h2"))
    else struct(gram.as("h1"))

  /** Exact-substring SPAN dedup (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better" — the ExactSubstr
    * policy): every k-char gram occurrence that is NOT the
    * corpus-wide first occurrence of its text marks its span
    * [p, p+k−1] as duplicated; overlapping marks coalesce into
    * maximal spans; spans are cut out and the remainder re-joined in
    * position order. Returns the per-document removal profile plus an
    * md5 of the cleaned text (the full cleaned corpus is the same
    * frame minus the digest projection).
    *
    * Determinism: "first occurrence" = min (doc_id, position) in
    * document order — the same retry-stable, RNG-free tie-break as
    * [[paragraphDedup]] — so the removal set is a pure function of
    * the corpus on any engine.
    *
    * Scale shape: linear in corpus characters. ONE exchange keyed by
    * a 128-bit gram DIGEST (two independent xxhash64 lanes, computed
    * map-side inside codegen): the shuffle carries 16 bytes per
    * occurrence instead of the k=40-char gram text — 16/k of corpus
    * bytes on the wire (at 100 TB, ~0.4x corpus size instead of
    * ~40x). Collision exposure is 2^-128-per-pair birthday mass
    * (~3e-11 across 1e14 grams) and a collision can only mark one
    * extra span, never corrupt unrelated docs; `keyByDigest=false`
    * restores the text-keyed exchange, and DigestSpanSpec pins the
    * two paths equal on a clone-heavy corpus. Then per-document
    * windows for island coalescing and segment stitching —
    * partitioned by doc_id, never global. No pair enumeration at any
    * stage, no matter how duplicated the corpus is (the suffix-array
    * formulation of the paper is single-node; positional grams are
    * its shuffle-friendly equivalent). The firsts side is a
    * groupBy-min (map-side partial covers hot boilerplate grams) +
    * join back, never a window over the gram.
    */
  def spanDedup(df: DataFrame, idCol: String, textCol: String,
                k: Int = 40, keyByDigest: Boolean = true): DataFrame = {
    val dd = df.select(col(idCol).as("doc_id"), col(textCol).as("text"))
      .withColumn("len", length(col("text")))
    // one row per k-gram occurrence; docs shorter than k emit none
    val occ = dd.filter(col("len") >= k)
      .withColumn("p", explode(sequence(lit(1), col("len") - (k - 1))))
      .select(col("doc_id"), col("p"),
        gramKey(expr(s"substring(text, p, $k)"), keyByDigest).as("g"))
    // duplicate ⇔ an earlier (doc, pos) occurrence of this gram
    // exists. Deliberately a groupBy-min + join back, NOT a
    // row_number window over the gram: a hot gram (a whitespace run,
    // a boilerplate line — guaranteed in a real corpus) would pin
    // every one of its occurrences into ONE window task with no
    // remedy, while the aggregate form partial-aggregates the hot
    // key map-side and the join back is AQE-skew-splittable.
    val firsts = occ.groupBy("g")
      .agg(min(struct(col("doc_id"), col("p"))).as("f"), count(lit(1)).as("n"))
    val dup = occ.join(firsts.filter(col("n") > 1), Seq("g"))
      .filter(struct(col("doc_id"), col("p")) =!= col("f"))
      .select(col("doc_id"), col("p").as("s"), (col("p") + (k - 1)).as("e"))
    spanReport(dd, dup)
  }

  /** INCREMENTAL [[spanDedup]] — the production path (a 100-TB corpus
    * is span-deduped once; each arriving batch probes the STANDING
    * gram index instead of rescanning history): a batch occurrence is
    * duplicated iff its gram exists anywhere in `history`, or an
    * earlier occurrence exists within the batch itself.
    *
    * CONTRACT (pinned by SpanDedupIncrementalSpec): **history
    * occurrences always win, regardless of doc_id order** — a batch
    * gram seen anywhere in history is a duplicate even if the batch
    * doc carries a smaller id. That is the temporal semantics a
    * deployment wants (what arrived first is the original). It
    * coincides with running [[spanDedup]] over history ∪ batch and
    * keeping the batch rows exactly when every history doc_id
    * precedes every batch doc_id — the oracle generates ids that
    * way, and the spec pins BOTH the equivalence under that ordering
    * AND the history-wins outcome under a deliberately interleaved
    * id space. Work is O(batch chars) grams probing a distinct-gram
    * index (16-byte digests under `keyByDigest` — the index a
    * deployment materializes once and appends to), never
    * O(corpus chars) per batch.
    */
  /** One row per k-gram occurrence of `df`: (doc_id, p, g) with `g`
    * the gram key ([[gramKey]] — 128-bit digest or raw text). The
    * standing index a span-dedup deployment materializes is exactly
    * `spanGramOccurrences(...).select("g").distinct()`. */
  def spanGramOccurrences(df: DataFrame, idCol: String, textCol: String,
                          k: Int = 40, keyByDigest: Boolean = true): DataFrame =
    df.select(col(idCol).as("doc_id"), col(textCol).as("text"))
      .withColumn("len", length(col("text")))
      .filter(col("len") >= k)
      .withColumn("p", explode(sequence(lit(1), col("len") - (k - 1))))
      .select(col("doc_id"), col("p"),
        gramKey(expr(s"substring(text, p, $k)"), keyByDigest).as("g"))

  def spanDedupIncremental(history: DataFrame, batch: DataFrame,
                           idCol: String, textCol: String,
                           k: Int = 40, keyByDigest: Boolean = true): DataFrame =
    spanDedupAgainstIndex(
      spanGramOccurrences(history, idCol, textCol, k, keyByDigest).select("g").distinct(),
      batch, idCol, textCol, k, keyByDigest)

  /** [[spanDedupIncremental]] with the standing gram index supplied
    * directly (one `g` column, as [[spanGramOccurrences]] keys it) —
    * the form a deployment calls, probing an index it materialized
    * once and appends to, instead of re-deriving it from history
    * docs each batch. History-wins semantics as above. */
  def spanDedupAgainstIndex(histIndex: DataFrame, batch: DataFrame,
                            idCol: String, textCol: String,
                            k: Int = 40, keyByDigest: Boolean = true): DataFrame = {
    val dd = batch.select(col(idCol).as("doc_id"), col(textCol).as("text"))
      .withColumn("len", length(col("text")))
    val occ = spanGramOccurrences(batch, idCol, textCol, k, keyByDigest)
    val inHist = occ.join(histIndex, Seq("g"), "left_semi")
      .select(col("doc_id"), col("p"))
    val firsts = occ.groupBy("g")
      .agg(min(struct(col("doc_id"), col("p"))).as("f"), count(lit(1)).as("n"))
    val batchDup = occ.join(firsts.filter(col("n") > 1), Seq("g"))
      .filter(struct(col("doc_id"), col("p")) =!= col("f"))
      .select(col("doc_id"), col("p"))
    val dup = inHist.unionByName(batchDup).distinct()
      .select(col("doc_id"), col("p").as("s"), (col("p") + (k - 1)).as("e"))
    spanReport(dd, dup)
  }

  /** Shared tail of the span-dedup family: coalesce duplicate marks
    * into maximal islands, cut them out, stitch the remainder, and
    * report per-document (n_dup_spans, chars_removed, clean_len,
    * clean_md5). `dd` = (doc_id, text, len); `dup` = marked [s, e]
    * spans. */
  private def spanReport(dd: DataFrame, dup: DataFrame): DataFrame = {
    // coalesce overlapping/adjacent marks into maximal islands:
    // running max of prior span ends; a gap strictly wider than 0
    // starts a new island (s is strictly increasing per doc — one
    // occurrence per position)
    val ord = Window.partitionBy("doc_id").orderBy("s")
    val spans = dup
      .withColumn("run", max("e").over(ord.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("nw", when(col("run").isNull || col("s") > col("run") + 1, 1L).otherwise(0L))
      .withColumn("isl", sum("nw").over(ord))
      .groupBy("doc_id", "isl")
      .agg(min("s").as("ss"), max("e").as("se"))
    // kept segments = complement of the merged spans inside [1, len]:
    // the gap before each span, the tail after the last span, and the
    // whole doc when no span marked it
    val gapsBefore = spans
      .withColumn("gs", coalesce(lag("se", 1).over(
        Window.partitionBy("doc_id").orderBy("ss")), lit(0L)) + 1)
      .select(col("doc_id"), col("gs"), (col("ss") - 1).as("ge"))
    val tails = spans.groupBy("doc_id").agg(max("se").as("mx"))
      .join(dd.select("doc_id", "len"), "doc_id")
      .select(col("doc_id"), (col("mx") + 1).as("gs"), col("len").cast("long").as("ge"))
    val untouched = dd.join(spans.select("doc_id").distinct(), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), lit(1L).as("gs"), col("len").cast("long").as("ge"))
    val segs = gapsBefore.unionByName(tails).unionByName(untouched)
      .filter(col("ge") >= col("gs"))
      .join(dd.select("doc_id", "text"), "doc_id")
      .select(col("doc_id"), col("gs"),
        expr("substring(text, CAST(gs AS INT), CAST(ge - gs + 1 AS INT))").as("seg"))
    val cleaned = segs.groupBy("doc_id")
      .agg(expr("array_join(transform(array_sort(collect_list(struct(gs, seg))), x -> x.seg), '')")
        .as("ct"))
    val stats = spans.groupBy("doc_id")
      .agg(count(lit(1)).as("n_dup_spans"), sum(col("se") - col("ss") + 1).as("removed"))
    dd.select("doc_id")
      .join(cleaned, Seq("doc_id"), "left").join(stats, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("removed"), lit(0L)).as("chars_removed"),
        length(coalesce(col("ct"), lit(""))).cast("long").as("clean_len"),
        md5(coalesce(col("ct"), lit("")).cast("binary")).as("clean_md5"))
  }

  /** Paragraph-granularity exact dedup (the CCNet recipe, Wenzek et
    * al. 2020: dedup at paragraph level BEFORE document-level
    * filtering — boilerplate headers/footers repeat across pages that
    * are not document duplicates). Documents split on `sep`; a
    * paragraph occurrence survives iff it is the corpus-wide FIRST
    * occurrence of its text, first = min (doc, position) in document
    * order. Returns the per-document profile (n_paras, n_kept,
    * kept_chars).
    *
    * Scale shape: one exchange keyed by paragraph TEXT (exact
    * equality — same collision-proof stance as [[exactClusters]]).
    * Deliberately a groupBy-min + join back, NOT a min-over-window
    * on the paragraph: a hot boilerplate paragraph (a cookie banner,
    * a license header — guaranteed in a real corpus) would pin every
    * one of its occurrences into ONE window task, while the
    * aggregate form partial-aggregates the hot key map-side and the
    * join back is AQE-skew-splittable — the same shape [[spanDedup]]
    * uses for its `firsts`. Then a per-doc rollup. No pair
    * enumeration.
    */
  def paragraphDedup(df: DataFrame, idCol: String, textCol: String,
                     sep: String = "\\. "): DataFrame = {
    val paras = df
      .select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), sep)).as(Seq("pos", "para")))
    val firsts = paras.groupBy("para")
      .agg(min(struct(col("doc_id"), col("pos"))).as("mn"))
    val keep = paras.join(firsts, Seq("para"))
      .withColumn("kept",
        (struct(col("doc_id"), col("pos")) === col("mn")).cast("long"))
    keep.groupBy("doc_id")
      .agg(count(lit(1)).as("n_paras"), sum("kept").as("n_kept"),
        sum(when(col("kept") === 1, length(col("para")).cast("long"))
          .otherwise(0L)).as("kept_chars"))
  }
}
