package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, LongType, StructField, StructType}
import graft.Tables

/** Near-duplicate detection over `documents` — the LLM-data-pipeline dedup
  * family (driver mandate; SURVEY.md §2.7 stretch goals made first-class):
  *
  *  - exact dedup: TextOps.dedupDocs / TextOps.fingerprint
  *  - n-gram Jaccard: shingle → explode → one shuffle into bounded
  *    per-shingle posting lists → pairs by double-explode. Pair cost is
  *    Σ_shingle count², keyed on the *shingle*, never doc×doc; the
  *    stop-shingle guard (bounded collect, cap maxDf) bounds the worst
  *    key at maxDf² and its group state at maxDf+1 ids.
  *  - MinHash + LSH banding: constant-size signature (8 hashes) per doc,
  *    band-bucket join — candidate generation cost is independent of
  *    document length and near-linear in corpus size. THE scale path.
  *  - SimHash: one 16-bit signature per doc; hamming-ball lookup.
  *
  * All hashing is md5-based so the DuckDB oracle can reproduce it exactly
  * (Spark's murmur `hash()` and DuckDB's `hash()` differ).
  */
object DedupOps {

  private val N = 3 // shingle width (tokens)

  /** Documents spread across the full task parallelism. The source is a
    * single parquet row group → a single scan task; everything downstream
    * here (shingling, md5, self-joins) is CPU-bound per document, so a
    * cheap shuffle of the small doc table buys full-width execution.
    */
  private def docsParallel(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .repartition(s.conf.get("spark.sql.shuffle.partitions", "32").toInt)

  /** Default stop-shingle cap: shingles appearing in more than this many
    * documents are dropped before the ngram self-join. Pair-generation cost
    * per shingle is count², so one boilerplate shingle ("all rights
    * reserved…") in a 100 TB corpus would otherwise dominate the whole
    * shuffle; the cap bounds any key's cost at maxDf². The graded corpus
    * tops out at df=25 (sf0.1), so 50 changes nothing there — the guard is
    * for the corpus you didn't inspect. Oracle SQL applies the same cap.
    */
  val DefaultMaxShingleDf = 50

  /** Graded near-dup Jaccard cut — ONE definition feeding every Spark
    * default AND every oracle SQL literal (interpolated), so retuning
    * the threshold cannot desynchronize a graded query from its oracle
    * (ADVICE r11: the 0.5 previously lived in ~10 defaults and 4
    * hardcoded SQL strings).
    */
  val DefaultJaccardThreshold = 0.5

  /** Winnowing window width (MOSS w). Interpolated into the winnow
    * oracle SQL (`w-1` appears as the window span and the full-windows
    * guard) for the same single-definition reason.
    */
  val DefaultWinnowW = 4

  /** Shared oracle-SQL fragments for the minhash family — generated ONCE
    * so the Scala signature pass and every oracle that replays it
    * (minhash, recall, estimator) stay in lockstep structurally: the
    * 16→32-bit slice widening had to touch three copy-pasted sites, which
    * is exactly the drift this removes.
    */
  private val minhashMinsSql: String = (0 until 16)
    .map(i => "min(substring(md5(s) || md5('x:' || s) || md5('y:' || s)" +
      s" || md5('z:' || s), ${8 * i + 1}, 8)) AS h$i")
    .mkString(", ")

  private val minhashBandsSql: String = (0 until 8)
    .map(j =>
      s"SELECT doc_id, $j AS band, md5(h${2 * j} || h${2 * j + 1}) AS sig FROM mh")
    .mkString(" UNION ALL ")

  /** Shared hot/kept/sizes/inter CTE block (continues after `sh`). */
  private val keptInterSql: String =
    s"""hot AS (SELECT s FROM sh GROUP BY s
       |  HAVING COUNT(*) > $DefaultMaxShingleDf),
       |kept AS (SELECT doc_id, s FROM sh
       |  WHERE s NOT IN (SELECT s FROM hot)),
       |sizes AS (SELECT doc_id, COUNT(*) AS n FROM kept GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
       |  FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)""".stripMargin

  /** doc_id + exploded distinct shingles — the single source of the shingle
    * rule for both ngramJaccard and minhashLsh.
    *
    * Deliberately a typed flatMap, not expression composition: the
    * declarative form (`array_distinct(transform(sequence(...), slice))`)
    * measured 12× slower at sf0.1 (3.9 s vs 0.3 s for the same 260k
    * shingles) — array_distinct over string arrays is quadratic and falls
    * out of codegen — and Spark's `sequence(0, -1)` descending-range
    * behavior made the short-document guard fragile. One pass with a
    * per-doc HashSet dedups and guards length < N for free.
    *
    * Empty tokens are dropped (doubled/leading spaces): Java `split(' ')`
    * and DuckDB `string_split` disagree on empty-token retention, so both
    * sides filter them out (`list_filter(tok, t -> t <> '')` in the CTE).
    */
  /** One document's distinct shingle set — THE single copy of the shingle
    * rule (tokenization, empty-token drop, width-N window, per-doc dedup)
    * shared by ngramJaccard(+Prefix) via [[shingles]] and by minhashLsh's
    * signature pass. Empty iterator for documents shorter than N tokens.
    */
  private[graft] def shingleSet(text: String)
  : scala.collection.mutable.LinkedHashSet[String] = {
    val seen = new scala.collection.mutable.LinkedHashSet[String]
    val t = text.split(' ').filter(_.nonEmpty)
    if (t.length >= N) {
      var i = 0
      while (i <= t.length - N) {
        seen.add(t(i) + " " + t(i + 1) + " " + t(i + 2))
        i += 1
      }
    }
    seen
  }

  /** (doc_id, s) distinct-shingle rows of any (doc_id, text) frame —
    * the one shingle formula, shared by the dir-based pipelines here
    * and the streaming cluster maintainer (whose stream≡batch contract
    * depends on byte-identical shingling).
    */
  private[graft] def shinglesOf(docs: DataFrame): DataFrame = {
    val sp = docs.sparkSession
    import sp.implicits._
    docs
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) => shingleSet(text).iterator.map((id, _)) }
      .toDF("doc_id", "s")
  }

  private def shingles(s: SparkSession, dir: String): DataFrame =
    shinglesOf(docsParallel(s, dir))

  /** Corpus-scale variant of [[ngramJaccard]]: AllPairs/PPJoin-style
    * PREFIX FILTERING (Bayardo, Ma & Srikant, "Scaling Up All Pairs
    * Similarity Search", WWW'07). Order each document's shingles by a
    * global canonical order (document frequency ascending, then shingle —
    * rarest first) and emit only the first |A| − ⌈t·|A|⌉ + 1 of them.
    * J(A,B) ≥ t forces |A∩B| ≥ t·|A| and ≥ t·|B|, so the first common
    * shingle in canonical order lies inside BOTH prefixes — every
    * qualifying pair collides there, everything else is pruned before any
    * pair exists. A size filter (min/max ≥ t) prunes further; survivors
    * are verified EXACTLY against both shingle sets, so results are
    * byte-identical to the direct join (equivalence is spec-pinned at two
    * thresholds).
    *
    * When to use which: candidate volume here is prefix-collision-bounded
    * (rare shingles → near-empty buckets) instead of Σ_shingle count², so
    * this form wins when the corpus is large enough that raw pair volume
    * dominates; at the graded sf0.1 size the extra stages cost more than
    * the 1.27M→~50k pair saving buys (measured ~2× slower), so the graded
    * query keeps the direct join. The crossover favors prefixes as the
    * corpus — and therefore per-shingle df — grows.
    */
  def ngramJaccardPrefix(s: SparkSession, dir: String,
                         threshold: Double = DefaultJaccardThreshold,
                         maxDf: Int = DefaultMaxShingleDf): DataFrame = {
    import s.implicits._
    val sh = shingles(s, dir)
    // global canonical order key: document frequency (post-guard universe)
    val dfTab = sh.groupBy($"s").agg(count(lit(1)).as("df"))
    // Hot-shingle exclusion vs df attachment are SPLIT (r9): the df table
    // is vocabulary-sized — it grows with the corpus, so a broadcast hint
    // on it is the same scale hazard as the dimension hints this round
    // removed. The HOT set is the one side that stays broadcastable
    // forever (≤ total-occurrences/maxDf rows by construction), and
    // anti-joining it FIRST also removes exactly the skewed keys before
    // the s shuffle. The df weights then attach through an unhinted
    // equi-join on s — planner-chosen broadcast at graded scale, a
    // skew-free shuffle join beyond (the doc_id regroup below pays a
    // corpus-sized shuffle anyway).
    val hot = dfTab.filter($"df" > maxDf).select($"s")
    val kept = sh.join(broadcast(hot), Seq("s"), "left_anti")
      .join(dfTab.filter($"df" <= maxDf), "s")
      .select($"doc_id", $"s", $"df")
    // per-doc shingle list sorted rarest-first (one shuffle on doc_id)
    val byDoc = kept.as[(Long, String, Long)]
      .groupByKey(_._1)
      .mapGroups { (doc, it) =>
        (doc, it.toArray.sortBy(t => (t._3, t._2)).map(_._2))
      }
    val prefixes = byDoc.flatMap { case (doc, arr) =>
      val n = arr.length
      // −1e-9: an upward float error in t·n would inflate the ceil and
      // SHORTEN the prefix — a false-negative hazard; erring longer only
      // over-generates candidates, which verification removes
      val p = n - math.ceil(threshold * n - 1e-9).toInt + 1
      arr.iterator.take(p).map(shingle => (doc, n.toLong, shingle))
    }.toDF("doc", "n", "s")
    val a = prefixes.toDF("da", "na", "sa")
    val b = prefixes.toDF("db", "nb", "sb")
    val candidates = a.join(b, $"sa" === $"sb" && $"da" < $"db")
      // −1e-9 mirrors the prefix-length guard above: at an exact rational
      // boundary (t=0.1, na=3, nb=30) the double product can round UP
      // (30*0.1 > 3.0) and drop a qualifying pair — a false negative exact
      // verification can't recover. Over-generating is safe; verify prunes.
      .filter(least($"na", $"nb") >= greatest($"na", $"nb") * threshold - 1e-9)
      .select($"da", $"db", $"na", $"nb")
      .distinct()
    // exact verification: fetch both (small) candidate docs' shingle sets
    val cDocs = candidates
      .select(explode(array($"da", $"db")).as("doc_id")).distinct()
    val sets = byDoc.toDF("doc_id", "arr").join(cDocs, "doc_id")
    // candidate-bounded but still corpus-correlated (one row per distinct
    // candidate doc) — unhinted, same policy as the sizes joins
    candidates
      .join(sets.toDF("da", "arr_a"), "da")
      .join(sets.toDF("db", "arr_b"), "db")
      .select($"da", $"db", $"na", $"nb", $"arr_a", $"arr_b")
      .as[(Long, Long, Long, Long, Array[String], Array[String])]
      .map { case (da, db, na, nb, arrA, arrB) =>
        val setA = arrA.toSet
        val i = arrB.count(setA.contains)
        (da, db, i.toDouble / (na + nb - i))
      }
      .toDF("da", "db", "jac_raw")
      .filter($"jac_raw" >= threshold)
      .select($"da", $"db", round($"jac_raw", 6).as("jac"))
      .orderBy($"da", $"db")
  }

  /** Corpus-size crossover for [[ngramDedupAuto]]: below this many
    * documents the direct shingle self-join wins (fewer stages; measured
    * ~2× faster at the graded 5k docs), above it prefix filtering wins
    * (direct-join pair volume Σ_shingle df² grows superlinearly in corpus
    * size as per-shingle df climbs, while prefix candidates stay bounded
    * by rare-shingle collisions). The exact switch point can't be measured
    * beyond sf0.1 in this environment — 100k is a conservative estimate
    * from the df→pair-volume trend; both branches are spec-pinned
    * byte-identical, so moving it is purely a cost decision.
    */
  val PrefixCrossoverDocs = 100000L

  /** Conservative on-disk bytes/document for the stats fallback below.
    * The driver's synthetic corpus compresses to ~120 B/doc — the
    * SMALLEST per-doc footprint we've measured — so the divisor sits
    * well below it at 64: size/64 genuinely over-counts docs on every
    * known corpus and flips to the prefix-filtered branch EARLY, the
    * safe direction (its cost is bounded; the direct join's pair volume
    * is what explodes). A divisor at or above the measured 120 would
    * under-count on the one corpus actually measured and cross late.
    */
  private val EstDocBytes = 64L

  /** Plan-time document-count estimate for the crossover decision — reads
    * the logical plan's statistics instead of running a count() job. On
    * the hot-table cache the InMemoryRelation carries an exact rowCount
    * after materialization; on a raw parquet scan only sizeInBytes (file
    * footprint) is known, so divide by [[EstDocBytes]]. At cluster scale
    * the catalog's ANALYZE stats land in the same `rowCount` slot. The
    * branch choice is purely a cost decision (outputs are spec-pinned
    * byte-identical), so an estimate is exactly as good as a count here.
    */
  private[operators] def estimatedDocs(df: DataFrame): Long = {
    val st = df.queryExecution.optimizedPlan.stats
    st.rowCount match {
      case Some(n) => n.toLong
      case None    => (st.sizeInBytes / EstDocBytes).toLong.max(1L)
    }
  }

  /** The graded ngram near-dup entry: picks the direct shingle self-join
    * or the prefix-filtered twin by corpus size, so the graded query IS
    * the scale query. The decision is plan-time ([[estimatedDocs]] —
    * logical-plan statistics, no job), so the graded query launches zero
    * extra Spark jobs for the crossover. Outputs are byte-identical either
    * way.
    */
  def ngramDedupAuto(s: SparkSession, dir: String,
                     threshold: Double = DefaultJaccardThreshold,
                     maxDf: Int = DefaultMaxShingleDf): DataFrame =
    if (estimatedDocs(Tables(s, dir, "documents")) > PrefixCrossoverDocs)
      ngramJaccardPrefix(s, dir, threshold, maxDf)
    else ngramJaccard(s, dir, threshold, maxDf)

  /** All document pairs with 3-gram Jaccard ≥ threshold (the graded
    * query; [[ngramJaccardPrefix]] is the corpus-scale twin). Jaccard is
    * an exact integer ratio (|A∩B| / (|A|+|B|−|A∩B|)) so the double
    * compare is deterministic across engines.
    *
    * Shape: ONE shuffle of the exploded shingle table into per-shingle
    * posting lists via a BOUNDED collect ([[graft.functions.BoundedCollect]]
    * — the aggregation buffer caps at maxDf+1 doc ids, so a boilerplate
    * shingle with a billion-document posting list costs 51 longs of group
    * state, never the full list). Overflowed groups (`size > maxDf`) are
    * the stop-shingles and emit nothing, bounding any key's pair cost at
    * maxDf² — the same `hot`/`kept` semantics as the oracle's CTEs. Pairs
    * then fall out of a double-explode of each (short) posting list —
    * never doc×doc across shingles, and no self-join: the posting list
    * already IS the join group. Per-doc post-guard set sizes re-derive
    * from the kept lists so Jaccard stays a true set ratio, and join onto
    * the aggregated pairs unhinted (stats pick broadcast at graded scale; a
    * shuffle join takes over when the corpus outgrows it).
    *
    * Measured at sf0.1 (warm, local[32]): this plan 1.2–1.4 s; the
    * declarative kept-shingle self-join 1.5–1.9 s (extra exchange for the
    * join's other side); the round-2 typed `groupByKey`/`flatMapGroups`
    * form 9.4 s on the driver bench (tuple encoding on every exploded row,
    * twice — reverted).
    */
  def ngramJaccard(
      s: SparkSession, dir: String, threshold: Double = DefaultJaccardThreshold,
      maxDf: Int = DefaultMaxShingleDf): DataFrame = {
    import s.implicits._
    ngramPairs(s, dir, threshold, maxDf).orderBy($"da", $"db")
  }

  /** [[ngramJaccard]] minus the presentation ORDER BY — the form consumers
    * that immediately reshuffle (the cluster query) should take, so the
    * global sort isn't paid just to be destroyed.
    */
  /** The unfiltered shared-shingle counts (`inter`: da, db, i) and the
    * per-doc kept-shingle sizes the Jaccard machinery is built from —
    * exposed so the estimator calibration can score candidate pairs
    * below any threshold.
    */
  private def ngramInterSizes(s: SparkSession, dir: String,
                              maxDf: Int, ckptGrouped: Boolean = false)
  : (DataFrame, DataFrame) = {
    import s.implicits._
    val sh = shingles(s, dir)
    val grouped0 = sh.groupBy($"s")
      .agg(graft.functions.BoundedCollect.boundedCollectLong(maxDf)($"doc_id")
        .as("docs"))
      .filter(size($"docs") <= maxDf)
    // `grouped` has two consumers (pairs + sizes), so under ReuseExchange
    // the shingle explode/shuffle runs once but the BoundedCollect FINAL
    // aggregate replays per branch. The ckpt form persists the posting
    // lists instead (the minhashSigs treatment) — kept behind a flag for
    // the CcExp A/B; the default is whichever form measured faster.
    val grouped =
      if (ckptGrouped) grouped0.localCheckpoint(false) else grouped0
    // sizes over the FILTERED universe, so Jaccard stays a true set ratio
    val sizes = grouped.select(explode($"docs").as("doc_id"))
      .groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val pairs = grouped
      .select(explode($"docs").as("da"), $"docs")
      .select($"da", explode($"docs").as("db"))
      .filter($"da" < $"db")
    (pairs.groupBy($"da", $"db").agg(count(lit(1)).as("i")), sizes)
  }

  // private[graft] (was [operators]): graft.CcExp times the pair pipeline
  // in isolation for the CC-family attribution record
  private[graft] def ngramPairs(
      s: SparkSession, dir: String, threshold: Double,
      maxDf: Int, ckptGrouped: Boolean = false): DataFrame = {
    import s.implicits._
    val (inter, sizes) = ngramInterSizes(s, dir, maxDf, ckptGrouped)
    // sizes is one row PER DOCUMENT — it grows with the corpus, so a
    // broadcast hint here is the same scale hazard as the vocabulary-sized
    // df table one function up (r9's own de-hint rationale applies verbatim,
    // and sizes is strictly larger: docs ≥ kept-vocab rows at scale). The
    // joins stay unhinted: stats-broadcast at graded scale, shuffle join
    // beyond — the pair side pays a (da,db) shuffle either way.
    inter
      .join(sizes.toDF("da", "na"), "da")
      .join(sizes.toDF("db", "nb"), "db")
      .withColumn("jac", $"i".cast("double") / ($"na" + $"nb" - $"i"))
      .filter($"jac" >= threshold)
      .select($"da", $"db", round($"jac", 6).as("jac"))
  }

  /** Lowercase hex md5 — byte-identical to Spark's `md5()` and DuckDB's
    * `md5()` over the same UTF-8 input, which is what keeps the typed
    * signature pipelines below in lockstep with the SQL oracles. One
    * MessageDigest per partition, reset per call.
    */
  private def md5Hex(md: java.security.MessageDigest, s: String): String = {
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val hex = "0123456789abcdef"
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = hex.charAt((d(i) & 0xff) >> 4)
      out(2 * i + 1) = hex.charAt(d(i) & 0x0f)
      i += 1
    }
    new String(out)
  }

  /** Distinct non-empty tokens of one document — the single token rule
    * (empty tokens dropped, insertion order preserved).
    */
  private def tokenSet(text: String): scala.collection.mutable.LinkedHashSet[String] = {
    val seen = new scala.collection.mutable.LinkedHashSet[String]
    text.split(' ').filter(_.nonEmpty).foreach(seen.add)
    seen
  }

  /** MinHash (k=16) + LSH banding (8 bands × 2 rows): emit candidate
    * pairs sharing ≥1 band with how many bands they share. Collision
    * probability per band is j² (j = true Jaccard), so low-sim pairs are
    * pruned without ever being compared; 8 bands put the miss rate for a
    * j≈0.7 near-dup below 1% ((1−j²)^8).
    *
    * The 16 hash functions are the disjoint 8-hex slices of FOUR md5s per
    * shingle (32-bit hashes each) — four digests instead of sixteen, same
    * md5-reproducibility in the DuckDB oracle. 32 bits, not 16: with
    * ~150 shingles per doc, the min of n draws from a 2¹⁶ space
    * concentrates near n/2¹⁶ of the range, so two UNRELATED docs match a
    * 16-bit minhash with P ≈ n/2¹⁷ ≈ 1e-3 — per band ~1.3e-6, which
    * is a CHANCE-candidate term growing quadratically in the corpus (the
    * round-11 sf1 probe measured it directly: 1 384 → 15 026 candidates
    * for 10× docs with disjoint vocabularies, ~80 % chance pairs — the
    * q_minhash_recall exponent hit 1.05). At 32 bits the per-band chance
    * rate is ~1e-16 and the candidate set is the true j²-curve set at
    * any realistic corpus size. Signatures and band keys
    * are computed in ONE typed pass over the (cached, pre-spread)
    * documents table — per-doc state is 16 eight-char strings, nothing is
    * exploded or shuffled until the 8 band rows per doc hit the band
    * self-join. The declarative twin (explode → 16 min() aggregate
    * columns → stack) shuffles the full shingle explosion; this one
    * shuffles 8 rows per document.
    */
  def minhashLsh(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    minhashPairs(s, dir).orderBy($"da", $"db")
  }

  /** One row per document: the 16-value minhash signature (the typed
    * pass described on [[minhashLsh]]); bands and the estimator both
    * derive from these rows.
    */
  private[operators] def minhashSigs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docsParallel(s, dir)
      .select($"doc_id", $"text").as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, text) =>
          val seen = shingleSet(text)
          if (seen.isEmpty) Iterator.empty
          else {
            val mins = Array.fill(16)("￿") // > any 8-hex substring
            seen.foreach { sh =>
              val d = md5Hex(md, sh) + md5Hex(md, "x:" + sh) +
                md5Hex(md, "y:" + sh) + md5Hex(md, "z:" + sh)
              var k = 0
              while (k < 16) {
                val sub = d.substring(8 * k, 8 * k + 8)
                if (sub < mins(k)) mins(k) = sub
                k += 1
              }
            }
            Iterator.single((id, mins.toSeq))
          }
        }
      }
      .toDF("doc_id", "mins")
  }

  /** The 8 LSH band rows per doc, derived from a signature table
    * (`md5(min_{2j} || min_{2j+1})` — Spark's `md5()` is the same
    * lowercase hex as the typed pass used before the refactor).
    */
  private def minhashBands(sigs: DataFrame): DataFrame = {
    import sigs.sparkSession.implicits._
    sigs.select($"doc_id", posexplode(array(
      (0 until 8).map(j => md5(concat(
        element_at($"mins", 2 * j + 1),
        element_at($"mins", 2 * j + 2)))): _*)).as(Seq("band", "sig")))
  }

  /** [[minhashLsh]] minus the presentation ORDER BY (the [[ngramPairs]]
    * convention) — the form consumers that immediately re-aggregate
    * ([[minhashRecall]]) should take.
    */
  private[operators] def minhashPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // checkpoint the signature table (r20, guide §1.2): both sides of
    // the band self-join read it, and without the cut the md5 signature
    // pass — the expensive typed scan — replays once PER SIDE
    // ([[minhashEst]] already carried this cut; the candidate path here
    // did not)
    val bands = minhashBands(minhashSigs(s, dir).localCheckpoint(false))
    val a = bands.toDF("da", "band_a", "sig_a")
    val b = bands.toDF("db", "band_b", "sig_b")
    a.join(b, $"band_a" === $"band_b" && $"sig_a" === $"sig_b" &&
        $"da" < $"db")
      .groupBy($"da", $"db").agg(count(lit(1)).as("n_bands"))
  }

  /** LSH calibration — the sketch-vs-truth report a pipeline reads before
    * trusting MinHash at a scale where the exact pair join is
    * unaffordable: for each band-agreement cutoff b (keep candidates
    * sharing ≥ b of the 8 bands), the candidate volume, how many of the
    * exact-Jaccard ≥ 0.5 pairs survive (recall), and how many candidates
    * are real (precision). Read it as the banding tuning curve: b = 1 is
    * the standard LSH candidate set; raising b trades recall for a
    * smaller verification bill.
    *
    * Scale shape: the candidate side is [[minhashPairs]] (8 fixed-width
    * band rows per doc into the band self-join), the truth side is the
    * graded bounded-posting-list machinery ([[ngramPairs]]); they meet in
    * a (da, db) hash join whose both sides are pair lists, never the
    * corpus. The cutoff rollup shuffles ≤ 8 rows into a single-partition
    * cumulative window (bounded by the BAND COUNT, the
    * [[simHistogram]] ≤-20-rows class), and the truth total rides the
    * 1-row broadcast class. Note the calibration is of the sketch AS
    * DEPLOYED: signatures hash every shingle, while the truth join is
    * df-capped — hot-shingle pairs the graded dedup refuses to expand are
    * "spurious" here by construction, which is exactly what the
    * verification bill would see in production.
    */
  def minhashRecall(s: SparkSession, dir: String,
                    threshold: Double = DefaultJaccardThreshold,
                    maxDf: Int = DefaultMaxShingleDf): DataFrame = {
    import s.implicits._
    // the truth list feeds BOTH the hit join and the 1-row total — the
    // mixSources/sourceTemperature discipline: checkpoint the (bounded)
    // pair rows so the posting-list machinery runs once, not per consumer
    // (unchecked, the second consumer re-paid the whole dedup plan —
    // measured 2× the dominant term at sf1). No driver-thread overlap
    // here (r20 note): this is ONE action, and the truth and candidate
    // subtrees are independent STAGES of it — the DAG scheduler already
    // runs them concurrently; splitting them into eager per-leg
    // checkpoints only adds materialization jobs (§2.6 applies to
    // sequential ACTIONS, not subtrees of one job).
    val truth = ngramPairs(s, dir, threshold, maxDf)
      .select($"da", $"db", lit(1L).as("hit"))
      .localCheckpoint(false)
    val perCut = minhashPairs(s, dir)
      .join(truth, Seq("da", "db"), "left_outer")
      .groupBy($"n_bands")
      .agg(count(lit(1)).as("n_cand_b"),
        sum(coalesce($"hit", lit(0L))).as("n_hit_b"))
    // ≤ 8 rows (one per observed band count): the single-partition
    // cumulative window is bounded by the band constant, not the corpus.
    val w = org.apache.spark.sql.expressions.Window
      .orderBy($"n_bands".desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val tot = truth.agg(count(lit(1)).as("n_truth"))
    perCut
      .select($"n_bands".as("min_bands"),
        sum($"n_cand_b").over(w).as("n_candidates"),
        sum($"n_hit_b").over(w).as("n_true_caught"))
      .crossJoin(broadcast(tot)) // 1-row anchor (allowed hint class)
      .select($"min_bands", $"n_candidates", $"n_true_caught", $"n_truth",
        // a clean corpus has no truth pairs: recall is NULL, not a
        // division by zero (ANSI crash / cross-engine Inf-vs-NULL split)
        when($"n_truth" > 0,
          round($"n_true_caught".cast("double") / $"n_truth", 4))
          .as("recall"),
        round($"n_true_caught".cast("double") / $"n_candidates", 4)
          .as("precision"))
      .orderBy($"min_bands")
  }

  /** MinHash ESTIMATOR calibration — the error curve completing the
    * sketch-trust triad ([[minhashRecall]] calibrates the BANDING,
    * [[simHistogram]] the threshold; this calibrates the ESTIMATE
    * itself): for every LSH candidate pair, the sketch's Jaccard
    * estimate is matches/16 over the two signatures; rolled up by match
    * count against the exact kept-shingle Jaccard — pair volume, mean
    * true similarity, mean absolute error. Production reads this to
    * decide whether the estimate can REPLACE exact verification (skip
    * the shingle-set comparison entirely) at the scale where
    * verification dominates the dedup bill.
    *
    * Scale shape: one signature pass (checkpointed — bands and both
    * sides of the match join read it), the band self-join, a
    * signature-pair zip per candidate, and the unfiltered `inter` table
    * the graded machinery already builds (df-capped, so candidate×inter
    * joins are pair-list-sized). Candidates whose docs carry no kept
    * shingles are excluded (both engines inner-join sizes). The rollup
    * is ≤ 17 rows; means are DECIMAL sums of round-6 values (order-free).
    */
  def minhashEst(s: SparkSession, dir: String,
                 maxDf: Int = DefaultMaxShingleDf): DataFrame = {
    import s.implicits._
    val dec = org.apache.spark.sql.types.DecimalType(16, 6)
    val sigs = minhashSigs(s, dir).localCheckpoint(false)
    val bands = minhashBands(sigs)
    val a = bands.toDF("da", "band_a", "sig_a")
    val b = bands.toDF("db", "band_b", "sig_b")
    val cand = a.join(b, $"band_a" === $"band_b" && $"sig_a" === $"sig_b" &&
        $"da" < $"db")
      .select($"da", $"db").distinct()
    val matches = cand
      .join(sigs.toDF("da", "ma"), "da")
      .join(sigs.toDF("db", "mb"), "db")
      .select($"da", $"db",
        size(filter(zip_with($"ma", $"mb", (x, y) => x === y),
          m => m)).cast("long").as("matches"))
    val (inter, sizes) = ngramInterSizes(s, dir, maxDf)
    matches
      .join(inter, Seq("da", "db"), "left_outer")
      .join(sizes.toDF("da", "na"), "da")
      .join(sizes.toDF("db", "nb"), "db")
      .select($"matches",
        round(coalesce($"i", lit(0L)).cast("double") /
          ($"na" + $"nb" - coalesce($"i", lit(0L))), 6).as("jac"),
        round($"matches" / 16.0, 4).as("est"))
      .groupBy($"matches")
      .agg(count(lit(1)).as("n_pairs"),
        round(sum($"jac".cast(dec)).cast("double") / count(lit(1)), 6)
          .as("mean_true_jac"),
        round(sum(round(abs($"est" - $"jac"), 6).cast(dec)).cast("double") /
          count(lit(1)), 6).as("mean_abs_err"))
      .select($"matches", round($"matches" / 16.0, 4).as("est_jac"),
        $"n_pairs", $"mean_true_jac", $"mean_abs_err")
      .orderBy($"matches")
  }

  /** Oracle for [[minhashEst]]: the signature/band CTEs (generated in
    * lockstep with [[minhashOracle]]), the 16-term match sum, and the
    * unfiltered inter/sizes joins.
    * (lazy: declared above shingleCte in source order)
    */
  lazy val minhashEstOracle: String = {
    val matchSum = (0 until 16)
      .map(i => s"CASE WHEN x.h$i = y.h$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    shingleCte +
      s""",
         |$keptInterSql,
         |mh AS (SELECT doc_id, $minhashMinsSql FROM sh GROUP BY doc_id),
         |bands AS ($minhashBandsSql),
         |cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
         |m AS (SELECT c.da, c.db,
         |    CAST($matchSum AS BIGINT) AS matches
         |  FROM cand c JOIN mh x ON c.da = x.doc_id
         |  JOIN mh y ON c.db = y.doc_id),
         |scored AS (SELECT m.matches,
         |    ROUND(CAST(COALESCE(inter.i, 0) AS DOUBLE)
         |      / (sa.n + sb.n - COALESCE(inter.i, 0)), 6) AS jac,
         |    ROUND(m.matches / 16.0, 4) AS est
         |  FROM m
         |  LEFT JOIN inter ON m.da = inter.da AND m.db = inter.db
         |  JOIN sizes sa ON m.da = sa.doc_id
         |  JOIN sizes sb ON m.db = sb.doc_id)
         |SELECT matches, ROUND(matches / 16.0, 4) AS est_jac,
         |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |  ROUND(CAST(SUM(CAST(jac AS DECIMAL(16,6))) AS DOUBLE)
         |    / COUNT(*), 6) AS mean_true_jac,
         |  ROUND(CAST(SUM(CAST(ROUND(ABS(est - jac), 6) AS DECIMAL(16,6)))
         |    AS DOUBLE) / COUNT(*), 6) AS mean_abs_err
         |FROM scored GROUP BY matches ORDER BY matches""".stripMargin
  }

  /** Per-source n-gram NOVELTY — the corpus-composition report behind
    * "what does this feed actually add": each source's distinct 3-gram
    * shingle count and the fraction of them appearing in NO other source.
    * A low-novelty feed is re-crawling content the corpus already has
    * (the acquisition-side complement of [[dupRateBySource]]'s
    * doc-level scorecard — novelty sees partial overlap that never forms
    * a near-dup pair).
    *
    * Scale shape: no pair machinery at all — (shingle, source) distinct
    * rows (one shingle-width shuffle, the same budget as the dedup
    * explode), a per-shingle source-count aggregate (group rows), and two
    * ≤|sources| rollups. A shingle unique to one source carries that
    * source in `min(source)`, so uniqueness attribution needs no second
    * join against the corpus.
    */
  def ngramNovelty(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val srcs = Tables(s, dir, "documents").select($"doc_id", $"source")
    // both rollups consume the SAME distinct subtree, so ReuseExchange
    // computes the corpus explode once (a localCheckpoint here measured
    // STRICTLY SLOWER at fixture scale — the reused exchange is already
    // the materialization)
    val ss = shingles(s, dir).join(srcs, "doc_id")
      .select($"s", $"source").distinct()
    val per = ss.groupBy($"s")
      .agg(count(lit(1)).as("n_src"), min($"source").as("only_src"))
    val tot = ss.groupBy($"source").agg(count(lit(1)).as("n_shingles"))
    val uniq = per.filter($"n_src" === 1)
      .groupBy($"only_src".as("source"))
      .agg(count(lit(1)).as("n_unique"))
    tot.join(uniq, Seq("source"), "left_outer")
      .select($"source", $"n_shingles",
        coalesce($"n_unique", lit(0L)).as("n_unique"),
        round(coalesce($"n_unique", lit(0L)).cast("double") /
          $"n_shingles", 4).as("novelty_rate"))
      .orderBy($"source")
  }

  /** Shingle DOCUMENT-FREQUENCY profile (q_shingle_df, round 15): the
    * df-cap calibration audit. The whole near-dup family's 100 TB
    * argument rests on [[DefaultMaxShingleDf]] (pair generation is
    * Σ df·(df−1)/2 — one boilerplate shingle would dominate the bill),
    * and this query MEASURES what that cap costs and saves: shingle
    * counts, posting rows, and implied pair-generation cost per df
    * band, with the `>maxDf` band being exactly the work the capped
    * pipelines refuse. A deployment reads it to size the cap for its
    * own corpus instead of trusting the default.
    *
    * Scale shape: the one shingle-width shuffle the dedup family
    * already pays (groupBy(shingle) → df group rows), then a ≤5-row
    * band rollup of those group rows. pair_cost accumulates in
    * DECIMAL(38,0) — the `>maxDf` band this audit exists to measure is
    * boilerplate shingles whose df can reach the billions on a 100 TB
    * corpus, where a BIGINT df·(df−1) term wraps silently in Spark
    * while DuckDB raises: an engine split in exactly the audited
    * regime (round-16 advice). No decimal DIVISION anywhere (DuckDB
    * decimal `/` detours through DOUBLE): df·(df−1) is even, so
    * whichever factor is even halves exactly in BIGINT first, then one
    * (19,0)×(19,0)→(38,0) product per group row.
    */
  def shingleDfProfile(s: SparkSession, dir: String,
                       maxDf: Int = DefaultMaxShingleDf): DataFrame = {
    import s.implicits._
    shingles(s, dir)
      .groupBy($"s").agg(count(lit(1)).as("df"))
      .select($"df",
        when($"df" === 1, 1L).when($"df" <= 5, 2L).when($"df" <= 20, 3L)
          .when($"df" <= maxDf, 4L).otherwise(5L).as("band"))
      .groupBy($"band")
      .agg(count(lit(1)).as("n_shingles"),
        sum($"df").as("posting_rows"),
        // exact df·(df−1)/2 with no overflow and no decimal division:
        // halve the even factor in BIGINT, multiply in DECIMAL(38,0).
        // REPORTING BOUNDARY is BIGINT (r16 driver lesson: an emitted
        // decimal(38,0) parquet column loads as pandas object-Decimal and
        // hash-splits against the oracle's numeric even when values are
        // identical). The cast is safe by ~9 orders of magnitude at any
        // graded sf; a 100 TB deployment sizing a cap beyond 2^63 pairs
        // reads the pre-cast accumulator via shingleDfProfile's source.
        expr("cast(sum(cast(if(df % 2 = 0, df div 2, df) as decimal(19,0)) *" +
          " cast(if(df % 2 = 0, df - 1, (df - 1) div 2) as decimal(19,0)))" +
          " as bigint)")
          .as("pair_cost"))
      .orderBy($"band")
  }

  /** Oracle for [[shingleDfProfile]] — same integer band arithmetic,
    * same halved-factor DECIMAL(38,0) pair_cost (DuckDB raises on a
    * BIGINT product overflow where Spark wraps; DECIMAL keeps both
    * engines exact on the huge-df band, and avoiding `/` keeps DuckDB
    * off its decimal-division-through-DOUBLE path).
    */
  def shingleDfProfileOracle(maxDf: Int = DefaultMaxShingleDf): String =
    shingleCte +
      s""",
        |df AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS df
        |  FROM sh GROUP BY 1)
        |SELECT CAST(CASE WHEN df = 1 THEN 1 WHEN df <= 5 THEN 2
        |    WHEN df <= 20 THEN 3 WHEN df <= $maxDf THEN 4
        |    ELSE 5 END AS BIGINT) AS band,
        |  CAST(COUNT(*) AS BIGINT) AS n_shingles,
        |  CAST(SUM(df) AS BIGINT) AS posting_rows,
        |  CAST(SUM(CAST(CASE WHEN df % 2 = 0 THEN df // 2 ELSE df END
        |        AS DECIMAL(19,0))
        |    * CAST(CASE WHEN df % 2 = 0 THEN df - 1 ELSE (df - 1) // 2 END
        |        AS DECIMAL(19,0))) AS BIGINT) AS pair_cost
        |FROM df GROUP BY 1 ORDER BY band""".stripMargin

  /** Source-level shingle CONTAINMENT matrix (q_source_containment,
    * round 14): for every ORDERED source pair (a, b ≠ a), the fraction
    * of a's distinct shingles also present in b — the asymmetric
    * "who carries whose content" audit that completes the feed-level
    * dup family: `q_cross_source_dups` counts near-dup DOC pairs,
    * `q_ngram_novelty` scores what a feed adds; this reads DIRECTION
    * (a mirror that republishes feed b shows containment(a→b) ≈ 1 with
    * containment(b→a) small — exactly what a crawl-dedup planner needs
    * to pick which feed to drop).
    *
    * Scale shape: ONE corpus-sized shuffle — groupBy(shingle) with
    * collect_set(source) dedups (shingle, source) pairs map-side INSIDE
    * the same exchange (the q_cohort_retention collect_set trick; the
    * r14 first cut paid distinct + a self-join = two shuffles of the
    * corpus-derived rows and measured 2.1× its anchor — this form
    * deletes the second). The grouped table is vocabulary-bounded with
    * ≤ |sources|-element sets; both the per-source totals and the
    * ordered-pair expansion (k² ≤ |sources|² per shingle — a CONSTANT
    * multiplier, feed counts are dozens) read those group rows off a
    * checkpoint. The output spine is the |sources|² ordered grid
    * (broadcast plan-constant cross, the gapfill-grid class) so
    * zero-overlap pairs report 0 instead of vanishing.
    */
  def sourceContainment(s: SparkSession, dir: String): DataFrame =
    sourceContainmentFrom(docsParallel(s, dir))

  /** [[sourceContainment]] over an arbitrary (doc_id, text, source)
    * frame — the property-law seam (the `substringDupFrom` pattern).
    */
  private[graft] def sourceContainmentFrom(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val srcs = docs.select($"doc_id", $"source")
    // both readers consume the SAME grouped subtree, so ReuseExchange
    // computes the corpus explode + collect_set exchange once — the
    // [[ngramNovelty]] lesson. An r15 same-session A/B read the
    // localCheckpoint NEUTRAL at fixture scale (warm medians ~1.05 s
    // both forms); the reused-exchange form is kept because the
    // exchange already IS the materialization and the checkpoint's
    // extra copy only grows with the corpus
    val g = shinglesOf(docs.select($"doc_id", $"text")).join(srcs, "doc_id")
      .groupBy($"s").agg(collect_set($"source").as("ss"))
      .select($"ss")
    val tot = g.select(explode($"ss").as("source"))
      .groupBy($"source").agg(count(lit(1)).as("n_a"))
    val shared = g.as[Seq[String]]
      .flatMap(set => for (a <- set; b <- set if a != b) yield (a, b))
      .toDF("src_a", "src_b")
      .groupBy($"src_a", $"src_b").agg(count(lit(1)).as("shared"))
    tot.select($"source".as("src_a"), $"n_a")
      .join(broadcast(tot.select($"source".as("src_b"))),
        $"src_a" =!= $"src_b")
      .join(shared, Seq("src_a", "src_b"), "left_outer")
      .select($"src_a", $"src_b",
        coalesce($"shared", lit(0L)).as("shared_shingles"),
        $"n_a".as("n_shingles_a"),
        round(coalesce($"shared", lit(0L)).cast("double") / $"n_a", 4)
          .as("containment"))
      .orderBy($"src_a", $"src_b")
  }

  /** Oracle for [[sourceContainment]] — same distinct grid. (def, not
    * val: `shingleCte` is declared further down the object and would
    * still be null during a val's initializer — the object-init-order
    * trap.)
    */
  def sourceContainmentOracle: String =
    shingleCte +
      """,
        |ss AS (SELECT DISTINCT sh.s, d.source
        |  FROM sh JOIN documents d USING (doc_id)),
        |tot AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_a
        |  FROM ss GROUP BY 1),
        |shared AS (SELECT a.source AS src_a, b.source AS src_b,
        |  CAST(COUNT(*) AS BIGINT) AS shared
        |  FROM ss a JOIN ss b USING (s)
        |  WHERE a.source <> b.source GROUP BY 1, 2)
        |SELECT t1.source AS src_a, t2.source AS src_b,
        |  COALESCE(sh2.shared, 0) AS shared_shingles,
        |  t1.n_a AS n_shingles_a,
        |  ROUND(CAST(COALESCE(sh2.shared, 0) AS DOUBLE) / t1.n_a, 4)
        |    AS containment
        |FROM tot t1 CROSS JOIN tot t2
        |LEFT JOIN shared sh2
        |  ON sh2.src_a = t1.source AND sh2.src_b = t2.source
        |WHERE t1.source <> t2.source
        |ORDER BY src_a, src_b""".stripMargin

  /** 16-bit SimHash per document: dimension i flips ±1 on the i-th hex
    * digit of each distinct token's md5 (≥'8' → +1), bit set where the
    * sum is positive. Computed in one typed pass per document (per-doc
    * state: 16 ints) — the declarative twin explodes every distinct token
    * and shuffles it into a 16-SUM aggregate; here nothing shuffles at
    * all before the final ORDER BY. Near-dup pair retrieval lives in
    * `simhashPairs` (on the 64-bit signature).
    */
  def simhash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docsParallel(s, dir)
      .select($"doc_id", $"text").as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, text) =>
          val acc = new Array[Int](16)
          tokenSet(text).foreach { w =>
            val h = md5Hex(md, w)
            var i = 0
            while (i < 16) {
              acc(i) += (if (h.charAt(i) >= '8') 1 else -1)
              i += 1
            }
          }
          var sig = 0L
          var i = 0
          while (i < 16) { if (acc(i) > 0) sig |= 1L << i; i += 1 }
          (id, sig)
        }
      }
      .toDF("doc_id", "simhash")
      .orderBy($"doc_id")
  }

  /** 64-bit SimHash per document as two 32-bit halves (sig_hi, sig_lo):
    * dimension i flips ±1 on the i-th hex digit of each distinct token's
    * md5(w)‖md5("y:"+w) (≥'8' → +1). Halves keep every value positive, so
    * band extraction and xor need no signed-overflow care in either engine.
    *
    * Why 64-bit when `simhash` (the graded signature query) is 16: the
    * 16-bit space saturates on a template-generated corpus — measured on
    * the sf0.1 documents table, 57% of ALL doc pairs fall within hamming 3
    * of each other at 16 bits (866k pairs share an identical signature),
    * so pair retrieval over it returns noise. 64 bits is the width real
    * simhash dedup (Manku et al., WWW'07 §3) uses for exactly this reason.
    */
  private[operators] def simhash64(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docsParallel(s, dir)
      .select($"doc_id", $"text").as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, text) =>
          val acc = new Array[Int](64)
          tokenSet(text).foreach { w =>
            val d = md5Hex(md, w) + md5Hex(md, "y:" + w)
            var i = 0
            while (i < 64) {
              acc(i) += (if (d.charAt(i) >= '8') 1 else -1)
              i += 1
            }
          }
          var hi = 0L; var lo = 0L
          var i = 0
          while (i < 32) { if (acc(i) > 0) hi |= 1L << i; i += 1 }
          while (i < 64) { if (acc(i) > 0) lo |= 1L << (i - 32); i += 1 }
          (id, hi, lo)
        }
      }
      .toDF("doc_id", "sig_hi", "sig_lo")
  }

  /** Near-duplicate pair retrieval from 64-bit SimHash signatures: all
    * pairs within hamming distance ≤ `maxHamming` (default 3).
    *
    * Candidate generation is the banding pigeonhole, not an all-pairs
    * scan: the signature splits into 4 disjoint 16-bit bands; two
    * signatures within hamming 3 differ in at most 3 bit positions, so at
    * least one band is untouched — every qualifying pair collides in ≥ 1
    * of the 4·2^16 band buckets. The join runs on (band, key), cost
    * Σ_bucket count²; the exact hamming filter prunes false-positive
    * collisions, and multi-band collisions dedup via the (da, db)
    * group-by. The same plan scales by widening the signature / adding
    * bands — bucket key cardinality grows, per-bucket cost shrinks.
    */
  def simhashPairs(s: SparkSession, dir: String,
                   maxHamming: Int = 3): DataFrame = {
    import s.implicits._
    val bandCols = array(
      shiftright($"sig_hi", 16).bitwiseAND(lit(65535L)),
      $"sig_hi".bitwiseAND(lit(65535L)),
      shiftright($"sig_lo", 16).bitwiseAND(lit(65535L)),
      $"sig_lo".bitwiseAND(lit(65535L)))
    val bands = simhash64(s, dir)
      .select($"doc_id", $"sig_hi", $"sig_lo",
        posexplode(bandCols).as(Seq("band", "key")))
    val a = bands.toDF("da", "hi_a", "lo_a", "band_a", "key_a")
    val b = bands.toDF("db", "hi_b", "lo_b", "band_b", "key_b")
    // hamming filter BEFORE the multi-band dedup: a qualifying pair
    // collides in up to all 4 bands and most collisions are 16-bit
    // coincidences, so filtering first shrinks the distinct-agg input to
    // the true-pair fraction instead of aggregating every collision
    a.join(b, $"band_a" === $"band_b" && $"key_a" === $"key_b" &&
        $"da" < $"db")
      .withColumn("hamming",
        expr("bit_count(hi_a ^ hi_b) + bit_count(lo_a ^ lo_b)").cast("long"))
      .filter($"hamming" <= maxHamming)
      .groupBy($"da", $"db", $"hamming")
      .agg(count(lit(1)).as("n_bands"))
      .select($"da", $"db", $"hamming")
      .orderBy($"da", $"db")
  }

  /** Near-dup CLUSTERS from the pair list — the retention step a real
    * dedup pipeline ends with: pairs say "these two match"; the pipeline
    * needs "which docs form one duplicate family, and which single copy
    * survives". Connected components over the [[ngramJaccard]] pair graph,
    * cluster id = min doc_id in the component, `keep` marks the canonical
    * (min-id) member — every other member is the near-dup drop list.
    *
    * Only clustered docs appear (singletons are trivially kept and would
    * drown the interesting rows at corpus scale).
    */
  def dedupClusters(s: SparkSession, dir: String,
                    threshold: Double = DefaultJaccardThreshold,
                    maxDf: Int = DefaultMaxShingleDf): DataFrame = {
    // same plan-time corpus-size choice as the graded pair query, but the
    // direct-join branch skips the presentation sort — the loop
    // repartitions the pairs immediately, so a global ORDER BY here would
    // be paid only to be destroyed
    val pairs =
      if (estimatedDocs(Tables(s, dir, "documents")) > PrefixCrossoverDocs)
        ngramJaccardPrefix(s, dir, threshold, maxDf)
      else ngramPairs(s, dir, threshold, maxDf)
    clusterPairs(s, pairs.select(col("da"), col("db")))
  }

  /** Near-dup cluster SIZE profile — the curation report a dedup run is
    * judged by: for each component size, how many clusters exist and how
    * many documents they tie up (n_docs − n_clusters of them are the
    * removable near-dup excess). Like [[dedupClusters]], singletons are
    * excluded: at corpus scale they are ~the whole corpus and carry no
    * information (every size-1 "cluster" keeps its only member).
    *
    * Scale shape: the CC output is one row per CLUSTERED doc (bounded by
    * the pair graph, not the corpus), and both rollups shuffle only group
    * rows — cluster_id rows first, then ≤ max-component-size histogram
    * rows. Nothing here ever touches text.
    */
  def clusterSizes(s: SparkSession, dir: String,
                   threshold: Double = DefaultJaccardThreshold,
                   maxDf: Int = DefaultMaxShingleDf): DataFrame = {
    dedupClusters(s, dir, threshold, maxDf)
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"))
      .orderBy(col("cluster_size"))
  }

  /** The dedup ACTION list — the step that turns cluster membership into
    * a curated corpus: per near-dup cluster, the canonical survivor
    * (longest member, min doc_id on ties — a quality-based pick, unlike
    * [[dedupClusters]]' structural min-id `keep` flag) plus what keeping
    * it costs (members dropped, characters dropped). This is the report
    * a pipeline merges back onto the corpus as its keep/drop verdict.
    *
    * Shape: the CC output is one row per CLUSTERED doc (bounded by the
    * pair graph, not the corpus); the `n_chars` enrichment join is
    * UNHINTED — at graded scale the planner broadcasts the small
    * clustered side on its own stats, and if duplication volume ever
    * grows the clustered side past broadcast range the same plan
    * degrades to a shuffle join keyed on doc_id, which is exactly the
    * right fallback. The survivor pick is a plain max-of-struct
    * aggregate — no window, no second shuffle beyond the cluster key.
    */
  def dedupKeep(s: SparkSession, dir: String,
                threshold: Double = DefaultJaccardThreshold,
                maxDf: Int = DefaultMaxShingleDf): DataFrame = {
    val members = dedupClusters(s, dir, threshold, maxDf)
      .select(col("cluster_id"), col("doc_id"))
    val chars = Tables(s, dir, "documents")
      .select(col("doc_id"), col("n_chars"))
    members.join(chars, "doc_id")
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("n_chars"), (-col("doc_id")).as("neg_id")))
          .as("rep"),
        sum(col("n_chars")).as("sum_chars"))
      .select(col("cluster_id"), col("n_members"),
        (-col("rep.neg_id")).as("keep_id"),
        col("rep.n_chars").as("keep_chars"),
        (col("sum_chars") - col("rep.n_chars")).as("dropped_chars"))
      .orderBy(col("cluster_id"))
  }

  /** Contamination attribution — `q_decontaminate` rolled up to the
    * lever a pipeline owner can actually pull: per SOURCE, how much of
    * its train split shares shingles with the eval split (doc counts, a
    * leak rate, total shared-shingle volume, and the worst single doc).
    * Dropping or re-crawling a leaky source is the remediation; the
    * per-doc list says which rows, this says which feed.
    *
    * Shape: the per-train-doc verdict is the bounded-posting-list single
    * scan of [[decontaminate]] (group rows only); the source enrichment
    * join and the train-population rollup are doc_id/source-keyed hash
    * aggregates. The left join keeps CLEAN sources in the report with
    * zero counts — absence of evidence, shown as evidence of absence.
    */
  def contaminationSources(s: SparkSession, dir: String,
                           maxDf: Int = DefaultMaxShingleDf): DataFrame = {
    import s.implicits._
    val srcs = Tables(s, dir, "documents").select($"doc_id", $"source")
    val isTrain = substring(md5($"doc_id".cast("string")), 1, 2) < "e6"
    val trainPop = srcs.filter(isTrain)
      .groupBy($"source").agg(count(lit(1)).as("n_train"))
    val perDoc = decontaminate(s, dir, maxDf)
      .join(srcs.withColumnRenamed("doc_id", "train_id"), "train_id")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_contaminated"),
        sum($"n_shared").as("shared_shingles"),
        max($"n_shared").as("worst_overlap"))
    trainPop.join(perDoc, Seq("source"), "left_outer")
      .select($"source", $"n_train",
        coalesce($"n_contaminated", lit(0L)).as("n_contaminated"),
        round(coalesce($"n_contaminated", lit(0L)).cast("double") /
          $"n_train", 4).as("leak_rate"),
        coalesce($"shared_shingles", lit(0L)).as("shared_shingles"),
        coalesce($"worst_overlap", lit(0L)).as("worst_overlap"))
      .orderBy($"source")
  }

  /** EVAL-side leakage verdict — the report benchmark trust is judged by:
    * for each EVAL-split document (md5 ≥ 'e6', the `q_split_assign`
    * complement), how many of its 3-gram shingles appear verbatim
    * anywhere in the TRAIN split, and the burned flag at the Llama-style
    * ≥ 80 % dirty threshold (integer arithmetic — 5·leaked ≥ 4·total — so
    * the boundary can't split on float rounding). `q_decontaminate`
    * answers the train-side question (which training docs to drop);
    * this answers the eval-side one (which benchmark items are
    * compromised and must be excluded from the score).
    *
    * Scale shape: NO pair machinery and no df cap needed — membership is
    * a per-shingle flag, so a boilerplate shingle costs one group row,
    * never a posting list: tagged shingle rows → distinct train-shingle
    * set (shingle-width shuffle) → one shingle-keyed left join for the
    * eval rows → per-doc counts. Three bounded shuffles.
    */
  def evalLeakage(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sh = shingles(s, dir)
      .withColumn("is_train",
        substring(md5($"doc_id".cast("string")), 1, 2) < "e6")
    val trainSh = sh.filter($"is_train")
      .select($"s").distinct().withColumn("hit", lit(1L))
    sh.filter(!$"is_train").select($"doc_id", $"s")
      .join(trainSh, Seq("s"), "left_outer")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce($"hit", lit(0L))).as("n_leaked"))
      .select($"doc_id", $"n_shingles", $"n_leaked",
        round($"n_leaked".cast("double") / $"n_shingles", 4).as("leak_frac"),
        ($"n_leaked" * 5 >= $"n_shingles" * 4).as("burned"))
      .orderBy($"doc_id")
  }

  /** Oracle for [[evalLeakage]]: the same tag/flag/left-join construction.
    * (lazy: declared above shingleCte in source order)
    */
  lazy val evalLeakageOracle: String =
    shingleCte +
      """,
        |tagged AS (SELECT doc_id, s,
        |  (substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6')
        |    AS is_train FROM sh),
        |trainsh AS (SELECT DISTINCT s FROM tagged WHERE is_train),
        |ev AS (SELECT doc_id, s FROM tagged WHERE NOT is_train)
        |SELECT ev.doc_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_shingles,
        |  CAST(SUM(CASE WHEN t.s IS NULL THEN 0 ELSE 1 END) AS BIGINT)
        |    AS n_leaked,
        |  ROUND(CAST(SUM(CASE WHEN t.s IS NULL THEN 0 ELSE 1 END)
        |    AS DOUBLE) / COUNT(*), 4) AS leak_frac,
        |  (SUM(CASE WHEN t.s IS NULL THEN 0 ELSE 1 END) * 5
        |    >= COUNT(*) * 4) AS burned
        |FROM ev LEFT JOIN trainsh t USING (s)
        |GROUP BY ev.doc_id ORDER BY ev.doc_id""".stripMargin

  /** Near-dup similarity histogram — the threshold-tuning report: the
    * pair-Jaccard distribution in 0.05 buckets above a LOW floor (0.3),
    * showing where the mass sits before committing to the graded 0.5
    * cut. Same bounded-posting-list pair machinery as [[ngramJaccard]];
    * the rollup shuffles ≤ 20 histogram rows.
    */
  def simHistogram(s: SparkSession, dir: String,
                   floorJac: Double = 0.3,
                   maxDf: Int = DefaultMaxShingleDf): DataFrame = {
    import s.implicits._
    ngramPairs(s, dir, floorJac, maxDf)
      .select(least(floor($"jac" * 20), lit(19L)).cast("long").as("bucket"))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_pairs"))
      .select(round($"bucket" / 20.0, 2).as("jac_lo"),
        round(($"bucket" + 1) / 20.0, 2).as("jac_hi"), $"n_pairs")
      .orderBy($"jac_lo")
  }

  /** Cross-source duplication structure — which FEEDS copy each other:
    * near-dup pairs (the graded 0.5 cut) attributed to their source
    * pair, ordered sources so (a,b) and (b,a) collapse. Diagonal rows
    * are within-source template families (boilerplate); off-diagonal
    * mass is mirroring/syndication between feeds — the signal for
    * collapsing two crawls into one.
    *
    * Shape: the bounded-posting-list pair machinery plus two doc_id
    * hash joins onto (doc_id, source) and a ≤ sources² rollup.
    */
  def crossSourceDups(s: SparkSession, dir: String,
                      threshold: Double = DefaultJaccardThreshold,
                      maxDf: Int = DefaultMaxShingleDf): DataFrame = {
    import s.implicits._
    val srcs = Tables(s, dir, "documents").select($"doc_id", $"source")
    ngramPairs(s, dir, threshold, maxDf)
      .join(srcs.toDF("da", "sa"), "da")
      .join(srcs.toDF("db", "sb"), "db")
      .select(least($"sa", $"sb").as("source_a"),
        greatest($"sa", $"sb").as("source_b"))
      .groupBy($"source_a", $"source_b")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy($"source_a", $"source_b")
  }

  /** Per-source duplication rate — the feed-quality scorecard: how many
    * of each source's docs sit in a near-dup cluster at all, and how
    * many of those are removable excess (non-survivors under the min-id
    * canonical pick). A feed with a high removable rate is paying for
    * crawl volume the corpus doesn't keep.
    */
  def dupRateBySource(s: SparkSession, dir: String,
                      threshold: Double = DefaultJaccardThreshold,
                      maxDf: Int = DefaultMaxShingleDf): DataFrame = {
    import s.implicits._
    val srcs = Tables(s, dir, "documents").select($"doc_id", $"source")
    val pop = srcs.groupBy($"source").agg(count(lit(1)).as("n_docs"))
    val clustered = dedupClusters(s, dir, threshold, maxDf)
      .join(srcs, "doc_id")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_clustered"),
        sum(when($"keep", 0L).otherwise(1L)).as("n_removable"))
    pop.join(clustered, Seq("source"), "left_outer")
      .select($"source", $"n_docs",
        coalesce($"n_clustered", lit(0L)).as("n_clustered"),
        coalesce($"n_removable", lit(0L)).as("n_removable"),
        round(coalesce($"n_removable", lit(0L)).cast("double") /
          $"n_docs", 4).as("removable_rate"))
      .orderBy($"source")
  }

  /** Directed edges one loop task takes: the distributed CC loop runs
    * `nEdges / EdgesPerTask + 1` partitions wide, and [[clusterPairs]]
    * finishes a graph below this bound (fewer than 25,000 pairs, about
    * 400 KB of BIGINT ids) on the driver instead.
    */
  private val EdgesPerTask = 50000L

  /** Connected components of a pair graph: one `(cluster_id, doc_id,
    * keep)` row per node that appears in a pair, labelled with its
    * component's minimum id, `keep` on that member, ordered by
    * (cluster_id, doc_id). Column types follow the pair list's id type.
    *
    * The pair list is lazily checkpointed and counted once. A graph below
    * [[EdgesPerTask]] directed edges is collected and finished by
    * [[unionFindComponents]], so a call runs 2 jobs: the count and the
    * collect. Below that bound the distributed loop runs every stage on
    * one partition anyway, yet each of its rounds ends in an action; on
    * the semantic tier's 920-pair graph at sf0.1 that was 12 rounds and
    * 15 jobs, whose barriers cost more than the work. Larger graphs, and
    * ids that are not BIGINT, take [[minLabelComponents]].
    */
  private[graft] def clusterPairs(s: SparkSession, pairs: DataFrame): DataFrame = {
    // The pair pipeline is checkpointed BEFORE any fan-out (the loop's
    // symmetrizing union reads it twice): the count below, needed by
    // both paths, materializes it in a single job.
    val p = pairs.toDF("a", "b").localCheckpoint(false)
    val nEdges = p.count() * 2
    if (nEdges < EdgesPerTask &&
        Seq("a", "b").forall(c => p.schema(c).dataType == LongType))
      unionFindComponents(s, p)
    else minLabelComponents(s, p, nEdges).rows
  }

  /** [[clusterPairs]] for a small BIGINT pair list `p` (columns a, b), on
    * the driver: a union-find in which the smaller root always wins, so
    * each root is its component's minimum id, the label
    * [[minLabelComponents]] converges to. Rows, order and schema equal
    * those of its min-label loop.
    */
  private def unionFindComponents(s: SparkSession, p: DataFrame): DataFrame = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (y != r) { val up = parent(y); parent(y) = r; y = up }
      r
    }
    p.collect().foreach { row =>
      val (a, b) = (row.getLong(0), row.getLong(1))
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    val rows = parent.keys.toArray.map(d => (find(d), d)).sorted
      .map { case (c, d) => Row(c, d, c == d) }
    val idNullable = p.schema("a").nullable || p.schema("b").nullable
    // the loop's labels come out of min(), which is nullable; an empty
    // graph runs no round and keeps the nullability of its ids
    val labelNullable = rows.nonEmpty || idNullable
    s.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      StructField("cluster_id", LongType, labelNullable),
      StructField("doc_id", LongType, idNullable),
      StructField("keep", BooleanType, labelNullable))))
  }

  /** A [[minLabelComponents]] run: the [[clusterPairs]] rows, the
    * min-label rounds it ran, and whether [[starContract]] finished it.
    */
  private[graft] final case class CcLoop(rows: DataFrame, rounds: Int,
                                         starFinish: Boolean)

  /** Distributed connected components by min-label propagation, the
    * [[clusterPairs]] path for graphs of [[EdgesPerTask]] directed edges
    * or more. `p` is the pair list as (a, b), lazily checkpointed, and
    * `nEdges` twice its row count (the count materializes `p`).
    *
    * Every doc starts labeled with the min of itself and its neighbours;
    * each round, every doc takes the min label across itself, its
    * neighbours and its label's label (one shuffle join keyed on the edge
    * head, one on the label, and one min-aggregate per round); fixpoint
    * when no label changes. Labels only ever decrease, so the per-round
    * SUM(label) is a strictly decreasing convergence witness — one scalar
    * action per round, no row-level diff join.
    *
    * Without the label jump the round count is the graph's diameter; the
    * jump cuts it by a margin the graph decides (see the loop). Each round
    * shuffles only the 2·|pairs| edge rows and |clustered docs| label
    * rows, never the corpus. A graph not converged after `switchRounds`
    * rounds is handed to the large-star/small-star alternation
    * ([[starContract]]), whose proven bound is O(log² n) alternations
    * whatever the diameter, instead of crawling on or dying at a guard.
    * Per-round `localCheckpoint` (lazy) cuts the growing lineage so round
    * N's plan doesn't replay rounds 1..N−1; superseded checkpoints lose
    * their last reference and the ContextCleaner reclaims them. On a
    * cluster, `checkpoint` against the fault-tolerant checkpoint dir is
    * the same seam.
    */
  private[graft] def minLabelComponents(s: SparkSession, p: DataFrame,
                                        nEdges: Long,
                                        switchRounds: Int = 20,
                                        labelJump: Boolean = true): CcLoop = {
    import s.implicits._
    // LAZY localCheckpoint throughout: the per-round convergence-sum action
    // materializes the checkpoint in the SAME job (eager would pay a
    // separate materialization job per round — measured ~2× the loop cost
    // at sf0.1).
    val edges0 = p.select(col("a").as("src"), col("b").as("dst"))
      .union(p.select(col("b").as("src"), col("a").as("dst")))
    // Loop parallelism follows the EDGE count, not the session's
    // corpus-width shuffle setting: the pair graph is tiny relative to the
    // corpus, and a 32-task exchange over ~10³ rows is pure scheduling
    // overhead (the coalescing AQE would apply per-stage on a cluster; AQE
    // is off on the local harness). Edges and labels are hash-partitioned
    // on their join keys at that width, so each round's edge join adds NO
    // exchange.
    val sp = s.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val width = math.max(1, math.min(sp, (nEdges / EdgesPerTask + 1L).toInt))
    val edges = edges0.repartition(width, $"dst").localCheckpoint(false)
    // Initial labels FUSE the first propagation round: every node's label
    // starts at min(itself, its neighbours) — one aggregate over the
    // already-partitioned edges — instead of label=self followed by a full
    // join round that computes the same thing. (Symmetric edges ⇒ every
    // node appears as a dst.)
    var labels = edges
      .groupBy($"dst").agg(min($"src").as("mn"))
      .select($"dst".as("doc_id"), least($"mn", $"dst").as("cluster_id"))
      .localCheckpoint(false)
    def labelSum(df: DataFrame): Long =
      df.agg(coalesce(sum($"cluster_id"), lit(0L))).as[Long].head()
    var prev = labelSum(labels)
    var round = 0
    var done = prev == 0L && labels.isEmpty
    while (!done && round < switchRounds) {
      round += 1
      val hopped = edges.join(labels, $"dst" === $"doc_id")
        .select($"src".as("doc_id"), $"cluster_id")
        .union(labels)
      // POINTER JUMP (r20): also take min with label(label(v)), so a label
      // can travel more than one hop per round. It is not true pointer
      // doubling (a node's min-label source can sit anywhere in its
      // ball), so it is a heuristic round cut, not a proven bound:
      // on the semantic tier's graph at sf0.1 it took rounds 16 → 12 and
      // jobs per call 19 → 15 (CcExp, TIMEQ_r20_cc.json), at the price of
      // one extra cluster_id-keyed exchange of the label table per round.
      // The fixpoint is unchanged: the jump branch only ever proposes the
      // label of another node in the same component (labels start as
      // component member ids and only decrease), the combined min is
      // still monotone, and any fixpoint of the combined operator is a
      // fixpoint of the plain edge-hop (the union includes it), which
      // reaches the component min by the standard path argument — so row
      // identity to the plain loop is structural, not empirical.
      val jumped =
        if (!labelJump) hopped
        else {
          val lj = labels.toDF("jd", "jc")
          hopped.union(labels.join(lj, $"cluster_id" === $"jd")
            .select($"doc_id", $"jc".as("cluster_id")))
        }
      val next = jumped
        .repartition(width, $"doc_id")
        .groupBy($"doc_id").agg(min($"cluster_id").as("cluster_id"))
        .localCheckpoint(false)
      val cur = labelSum(next)
      done = cur == prev
      prev = cur
      labels = next
    }
    // diameter > switchRounds: hand the original (checkpointed) pair list
    // to the diameter-proof alternation instead of crawling on
    val resolved = if (done) labels else starContract(s, p)
    CcLoop(resolved
      .select($"cluster_id", $"doc_id", ($"doc_id" === $"cluster_id").as("keep"))
      .orderBy($"cluster_id", $"doc_id"), round, !done)
  }

  /** Large-star/small-star alternation (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14 — public algorithm) —
    * the fallback [[clusterPairs]] switches to when min-label propagation
    * hasn't converged after `switchRounds` rounds. Min-label needs
    * diameter-many rounds; the alternation needs O(log² n) regardless of
    * diameter, because each step rewires whole neighbourhoods at once:
    *
    *  - large-star(u): every neighbour v > u re-attaches to min(Γ⁺(u)) —
    *    emit (min(Γ⁺(u)), v);
    *  - small-star(u): u and all its smaller neighbours attach to their
    *    minimum — over canonical (lo, hi) edges grouped by hi.
    *
    * Both steps preserve connectivity (paper §3); the fixpoint is one star
    * per component rooted at the component minimum — exactly the labels
    * min-label converges to, so the two paths are output-identical. Each
    * alternation is two grouped mins + two joins over EDGE-sized data
    * (node labels never materialize until the end), lazily
    * localCheckpoint'd like the min-label loop. Convergence is a set
    * identity (count + one-sided `except`): unlike min-label's decreasing
    * label sum, no cheap scalar witness survives the rewiring, so the
    * extra per-alternation action is the price of the diameter-proof
    * bound — paid only on graphs that already defeated the fast path.
    */
  // private[graft] (was [operators]): graft.CcExp measures the alternation
  // head-to-head against the min-label loop for the CC attribution record
  private[graft] def starContract(s: SparkSession, pairs: DataFrame,
                                  maxAlternations: Int = 64): DataFrame = {
    import s.implicits._
    var edges = pairs.toDF("a", "b")
      .select(least($"a", $"b").as("lo"), greatest($"a", $"b").as("hi"))
      .filter($"lo" < $"hi")
      .distinct()
      .localCheckpoint(false)
    var n = edges.count()
    var done = n == 0L
    var rounds = 0
    while (!done) {
      rounds += 1
      if (rounds > maxAlternations)
        // loud-failure backstop, not a claimed impossibility: the proven
        // Kiveris et al. bound is O(log² n) alternations (so 64 only
        // provably covers small n); convergence in ~log n is what we
        // observe empirically, and 64 alternations of edge-shrinking
        // steps not converging means something is structurally wrong
        // (e.g. a non-terminating edge cycle from bad input), which
        // should surface as an error, not an infinite loop.
        throw new IllegalStateException(
          s"star contraction did not converge in $maxAlternations " +
            "alternations — far beyond the empirical ~log n and the " +
            "proven O(log^2 n) envelope for any realistic graph; " +
            "inspect the pair graph for malformed input")
      // large-star over the symmetric adjacency
      val sym = edges.select($"lo".as("u"), $"hi".as("v"))
        .union(edges.select($"hi".as("u"), $"lo".as("v")))
      val lmin = sym.groupBy($"u").agg(min($"v").as("mv"))
        .select($"u", least($"mv", $"u").as("m"))
      val large = sym.join(lmin, "u").filter($"v" > $"u")
        .select($"m".as("lo"), $"v".as("hi"))
        .distinct()
      // small-star, edges oriented hi → lo: for each edge (lo, hi) with
      // group-min m(hi): lo == m attaches hi itself, otherwise lo
      val smin = large.groupBy($"hi").agg(min($"lo").as("m"))
      val next = large.join(smin, "hi")
        .select($"m", when($"lo" === $"m", $"hi").otherwise($"lo").as("v"))
        .filter($"v" =!= $"m")
        .select($"m".as("lo"), $"v".as("hi"))
        .distinct()
        .localCheckpoint(false)
      val nn = next.count()
      done = nn == n && next.except(edges).isEmpty
      n = nn
      edges = next
    }
    // stars: hi = member, lo = component-min center; centers label themselves
    edges.select($"hi".as("doc_id"), $"lo".as("cluster_id"))
      .union(edges.select($"lo".as("doc_id"), $"lo".as("cluster_id")).distinct())
  }

  /** Eval-set decontamination — the train/eval hygiene pass every
    * benchmark-honest pipeline runs before training: find TRAIN documents
    * sharing verbatim 3-token shingles with the EVAL split, so they can be
    * dropped (or the eval doc discounted) before the model memorizes its
    * own test set. Split rule is byte-identical to `q_split_assign`
    * (first two md5 hex of doc_id < 'e6' → train), shingle rule is the
    * shared [[shingleSet]]. Output: per contaminated train doc, how many
    * distinct shingles it shares and with how many eval docs.
    *
    * Scale shape: the same bounded posting-list idiom as [[ngramPairs]] —
    * ONE shuffle of the exploded shingle table into per-shingle doc lists
    * via [[graft.functions.BoundedCollect]] (group state caps at maxDf+1
    * ids; overflowed shingles are the stop-shingles and emit nothing,
    * bounding any shingle's train×eval fanout at maxDf²), then
    * train×eval pairs fall out of a double-explode of each short list.
    * The shingle pipeline executes exactly once (it has one consumer),
    * documents never cross a shuffle, and there is NO self-join — the
    * posting list already is the join group. The train/eval tag is
    * re-derived from the doc id inside the explode (it's a pure hash of
    * the id), so the lists carry ids only. At 100 TB the eval side is a
    * benchmark suite — thousands of docs against billions — so eval hits
    * inside each posting list are rare and the pair fanout is tiny; a
    * broadcast-the-eval-side join would instead force a second full
    * shingle pipeline for the probe side.
    */
  def decontaminate(s: SparkSession, dir: String,
                    maxDf: Int = DefaultMaxShingleDf): DataFrame = {
    import s.implicits._
    def isTrain(id: org.apache.spark.sql.Column) =
      substring(md5(id.cast("string")), 1, 2) < "e6"
    val grouped = shingles(s, dir).groupBy($"s")
      .agg(graft.functions.BoundedCollect.boundedCollectLong(maxDf)($"doc_id")
        .as("docs"))
      .filter(size($"docs") <= maxDf)
    grouped
      .select($"s", explode($"docs").as("train_id"), $"docs")
      .filter(isTrain($"train_id"))
      .select($"s", $"train_id", explode($"docs").as("eval_id"))
      .filter(!isTrain($"eval_id"))
      .groupBy($"train_id")
      .agg(countDistinct($"s").as("n_shared"),
        countDistinct($"eval_id").as("n_eval_docs"))
      .orderBy($"train_id")
  }

  /** Incremental ingest dedup — the shape a daily pipeline actually runs:
    * a small NEW batch (the ~10% of docs whose md5 prefix ≥ 'e6'; same
    * hash rule as `q_split_assign`, inverted) arrives against the large
    * HISTORICAL corpus (the other ~90%, already deduped), and the question
    * is only "which new docs are near-dups of something we already have".
    * Output: per contaminated new doc, its best historical match (highest
    * Jaccard, min-id tie-break) — the incremental drop list.
    *
    * Scale shape: the same one-shuffle bounded posting-list idiom as
    * [[ngramPairs]], but the double-explode pairs an OLD member with a NEW
    * member only — the old×old bulk, quadratic in the corpus and already
    * settled by yesterday's run, is never generated. Per-shingle fanout is
    * ≤ |old∩list|·|new∩list| ≤ maxDf²/4; with a 10% increment the pair
    * volume is ~9% of the full run's. Sizes are computed over the same
    * kept-shingle universe as the batch family, so every (old, new) pair
    * here carries EXACTLY the Jaccard the full `ngramJaccard` run would
    * assign it — incremental ≡ full-run-restricted-to-cross-pairs is
    * spec-pinned, and the df cap must keep counting old+new together for
    * that to hold (a boilerplate shingle does not become "rare" just
    * because the increment is small).
    */
  def ngramIncremental(s: SparkSession, dir: String,
                       threshold: Double = DefaultJaccardThreshold,
                       maxDf: Int = DefaultMaxShingleDf): DataFrame = {
    import s.implicits._
    def isNew(id: org.apache.spark.sql.Column) =
      substring(md5(id.cast("string")), 1, 2) >= "e6"
    val grouped = shingles(s, dir).groupBy($"s")
      .agg(graft.functions.BoundedCollect.boundedCollectLong(maxDf)($"doc_id")
        .as("docs"))
      .filter(size($"docs") <= maxDf)
    val sizes = grouped.select(explode($"docs").as("doc_id"))
      .groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val pairs = grouped
      .select(explode($"docs").as("old_id"), $"docs")
      .filter(!isNew($"old_id"))
      .select($"old_id", explode($"docs").as("new_id"))
      .filter(isNew($"new_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"new_id").orderBy(desc("jac_raw"), $"old_id")
    // unhinted for the same reason as ngramPairs: sizes is corpus-sized
    pairs.groupBy($"new_id", $"old_id").agg(count(lit(1)).as("i"))
      .join(sizes.toDF("new_id", "nn"), "new_id")
      .join(sizes.toDF("old_id", "no"), "old_id")
      .withColumn("jac_raw", $"i".cast("double") / ($"nn" + $"no" - $"i"))
      .filter($"jac_raw" >= threshold)
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"new_id", $"old_id", round($"jac_raw", 6).as("jac"))
      .orderBy($"new_id")
  }

  // lazy: declared above shingleCte in source order
  lazy val ngramIncrementalOracle: String =
    shingleCte +
      s""",
        |hot AS (SELECT s FROM sh GROUP BY s
        |  HAVING COUNT(*) > $DefaultMaxShingleDf),
        |kept AS (SELECT doc_id, s FROM sh
        |  WHERE s NOT IN (SELECT s FROM hot)),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM kept GROUP BY doc_id),
        |inter AS (SELECT o.doc_id AS old_id, nw.doc_id AS new_id,
        |    COUNT(*) AS i
        |  FROM kept o JOIN kept nw ON o.s = nw.s
        |  WHERE substring(md5(CAST(o.doc_id AS VARCHAR)), 1, 2) < 'e6'
        |    AND substring(md5(CAST(nw.doc_id AS VARCHAR)), 1, 2) >= 'e6'
        |  GROUP BY 1, 2),
        |j AS (SELECT new_id, old_id,
        |    CAST(i AS DOUBLE) / (so.n + sn.n - i) AS jac_raw
        |  FROM inter
        |  JOIN sizes so ON so.doc_id = old_id
        |  JOIN sizes sn ON sn.doc_id = new_id)
        |SELECT new_id, old_id, ROUND(jac_raw, 6) AS jac FROM j
        |WHERE jac_raw >= $DefaultJaccardThreshold
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY new_id
        |  ORDER BY jac_raw DESC, old_id) = 1
        |ORDER BY new_id""".stripMargin

  /** Oracle SQL fragments shared by SparkEntry (generated so the 16-term
    * simhash CASE chain stays in lockstep with the Scala side).
    */
  val shingleCte: String =
    """WITH t AS (SELECT doc_id,
      |  list_filter(string_split(text, ' '), x -> x <> '') AS tok
      |  FROM documents),
      |sh AS (SELECT doc_id, UNNEST(list_distinct(
      |  [array_to_string(tok[i:i+2], ' ') for i in range(1, len(tok)-1)]))
      |  AS s FROM t)""".stripMargin

  /** Shared split/hot/kept prefix for [[decontaminateOracle]] and
    * [[contaminationSourcesOracle]].
    */
  private val decontKeptCte: String =
    shingleCte +
      s""",
        |tagged AS (SELECT doc_id, s,
        |  CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
        |    THEN 'train' ELSE 'eval' END AS split FROM sh),
        |hot AS (SELECT s FROM tagged GROUP BY s
        |  HAVING COUNT(*) > $DefaultMaxShingleDf),
        |kept AS (SELECT * FROM tagged
        |  WHERE s NOT IN (SELECT s FROM hot))""".stripMargin

  val decontaminateOracle: String =
    decontKeptCte +
      """
        |SELECT a.doc_id AS train_id,
        |  COUNT(DISTINCT a.s) AS n_shared,
        |  COUNT(DISTINCT b.doc_id) AS n_eval_docs
        |FROM kept a JOIN kept b ON a.s = b.s
        |WHERE a.split = 'train' AND b.split = 'eval'
        |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Oracle for [[contaminationSources]]: the same per-train-doc verdict
    * as a CTE, source-joined and rolled up against the full train
    * population (clean sources kept via the left join).
    */
  val contaminationSourcesOracle: String =
    decontKeptCte +
      """,
        |cont AS (SELECT a.doc_id AS train_id,
        |  COUNT(DISTINCT a.s) AS n_shared
        |  FROM kept a JOIN kept b ON a.s = b.s
        |  WHERE a.split = 'train' AND b.split = 'eval'
        |  GROUP BY 1),
        |pop AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_train
        |  FROM documents
        |  WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
        |  GROUP BY 1),
        |bysrc AS (SELECT d.source,
        |  CAST(COUNT(*) AS BIGINT) AS n_contaminated,
        |  CAST(SUM(c.n_shared) AS BIGINT) AS shared_shingles,
        |  CAST(MAX(c.n_shared) AS BIGINT) AS worst_overlap
        |  FROM cont c JOIN documents d ON c.train_id = d.doc_id
        |  GROUP BY 1)
        |SELECT p.source, p.n_train,
        |  COALESCE(b.n_contaminated, 0) AS n_contaminated,
        |  ROUND(CAST(COALESCE(b.n_contaminated, 0) AS DOUBLE)
        |    / p.n_train, 4) AS leak_rate,
        |  COALESCE(b.shared_shingles, 0) AS shared_shingles,
        |  COALESCE(b.worst_overlap, 0) AS worst_overlap
        |FROM pop p LEFT JOIN bysrc b USING (source)
        |ORDER BY p.source""".stripMargin

  /** Oracle for [[crossSourceDups]]: the graded-cut pair list joined to
    * its source pair, ordered so (a,b) ≡ (b,a).
    */
  lazy val crossSourceDupsOracle: String =
    // reuse ccReachCte's shingle→pairs prefix only (cut before the
    // recursive closure — the pair report doesn't need components)
    ccReachCte.split(",\nedges AS")(0)
      .replaceFirst("WITH RECURSIVE ", "WITH ") +
      """,
        |sp AS (SELECT LEAST(da_s, db_s) AS source_a,
        |  GREATEST(da_s, db_s) AS source_b FROM (
        |  SELECT a.source AS da_s, b.source AS db_s
        |  FROM pairs p JOIN documents a ON p.da = a.doc_id
        |  JOIN documents b ON p.db = b.doc_id) x)
        |SELECT source_a, source_b, CAST(COUNT(*) AS BIGINT) AS n_pairs
        |FROM sp GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin

  /** Oracle for [[dupRateBySource]]: the transitive-closure membership
    * (min-label components, min-id keep flag) source-joined and rolled
    * up against each source's population.
    */
  /** Token-weighted duplication INFLATION per feed (q_dup_inflation,
    * round 14): `q_dup_rate_by_source` counts removable DOCS; training
    * cost is paid in TOKENS, so the budgeting question is "how many
    * chars does near-dedup save, and how much is this feed's effective
    * volume inflated by duplication" — chars_total / chars_kept, the
    * multiplier a naive per-feed token count overstates the feed by.
    * The denominator CAN be zero: the cluster canonical is the min
    * doc_id CLUSTER-wide and may live in another source, so a mirror
    * feed whose docs all have higher ids than the originals loses its
    * entire char volume — inflation is NULL for such a source (both
    * engines guard the division identically), never Infinity.
    *
    * Shape: rides the SAME `dedupClusters` CC output (edge-sized, the
    * scale argument lives there) + two source-grain rollups of the
    * documents table — nothing new shuffles at corpus size.
    */
  def dupInflation(s: SparkSession, dir: String,
                   threshold: Double = DefaultJaccardThreshold,
                   maxDf: Int = DefaultMaxShingleDf): DataFrame = {
    import s.implicits._
    val docs = Tables(s, dir, "documents")
      .select($"doc_id", $"source", $"n_chars")
    val rem = dedupClusters(s, dir, threshold, maxDf)
      .filter(!$"keep").select($"doc_id")
      .join(docs, "doc_id")
      .groupBy($"source")
      .agg(sum($"n_chars").as("chars_removable"))
    docs.groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("chars_total"))
      .join(rem, Seq("source"), "left_outer")
      .select($"source", $"n_docs", $"chars_total",
        coalesce($"chars_removable", lit(0L)).as("chars_removable"),
        {
          val kept = $"chars_total" - coalesce($"chars_removable", lit(0L))
          when(kept === 0, lit(null).cast("double"))
            .otherwise(round($"chars_total".cast("double") / kept, 4))
            .as("inflation")
        })
      .orderBy($"source")
  }

  /** Oracle for [[dupInflation]] — the cluster CTE + two rollups. */
  lazy val dupInflationOracle: String =
    ccReachCte +
      """,
        |m AS (SELECT min(root) AS cluster_id, doc_id,
        |  (doc_id = min(root)) AS keep FROM reach GROUP BY doc_id),
        |rem AS (SELECT d.source,
        |  CAST(SUM(d.n_chars) AS BIGINT) AS chars_removable
        |  FROM m JOIN documents d USING (doc_id)
        |  WHERE NOT m.keep GROUP BY 1),
        |tot AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars_total
        |  FROM documents GROUP BY 1)
        |SELECT t.source, t.n_docs, t.chars_total,
        |  COALESCE(r.chars_removable, 0) AS chars_removable,
        |  ROUND(CAST(t.chars_total AS DOUBLE)
        |    / NULLIF(t.chars_total - COALESCE(r.chars_removable, 0), 0),
        |    4) AS inflation
        |FROM tot t LEFT JOIN rem r USING (source)
        |ORDER BY t.source""".stripMargin

  lazy val dupRateBySourceOracle: String =
    ccReachCte +
      """,
        |m AS (SELECT min(root) AS cluster_id, doc_id,
        |  (doc_id = min(root)) AS keep FROM reach GROUP BY doc_id),
        |pop AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
        |  FROM documents GROUP BY 1),
        |cl AS (SELECT d.source,
        |  CAST(COUNT(*) AS BIGINT) AS n_clustered,
        |  CAST(SUM(CASE WHEN m.keep THEN 0 ELSE 1 END) AS BIGINT)
        |    AS n_removable
        |  FROM m JOIN documents d USING (doc_id) GROUP BY 1)
        |SELECT p.source, p.n_docs,
        |  COALESCE(cl.n_clustered, 0) AS n_clustered,
        |  COALESCE(cl.n_removable, 0) AS n_removable,
        |  ROUND(CAST(COALESCE(cl.n_removable, 0) AS DOUBLE)
        |    / p.n_docs, 4) AS removable_rate
        |FROM pop p LEFT JOIN cl USING (source)
        |ORDER BY p.source""".stripMargin

  /** Oracle for [[simHistogram]]: the kept-shingle pair Jaccard above
    * the 0.3 floor, bucketed at 0.05 — identical rounding point
    * (round 6 before the bucket arithmetic) as the Spark side.
    */
  val simHistogramOracle: String =
    shingleCte +
      s""",
        |hot AS (SELECT s FROM sh GROUP BY s
        |  HAVING COUNT(*) > $DefaultMaxShingleDf),
        |kept AS (SELECT doc_id, s FROM sh
        |  WHERE s NOT IN (SELECT s FROM hot)),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM kept GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
        |  FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |jacs AS (SELECT
        |  ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jac
        |  FROM inter
        |  JOIN sizes sa ON da = sa.doc_id
        |  JOIN sizes sb ON db = sb.doc_id
        |  WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.3),
        |hist AS (SELECT CAST(LEAST(FLOOR(jac * 20), 19) AS BIGINT)
        |    AS bucket, CAST(COUNT(*) AS BIGINT) AS n_pairs
        |  FROM jacs GROUP BY 1)
        |SELECT ROUND(bucket / 20.0, 2) AS jac_lo,
        |  ROUND((bucket + 1) / 20.0, 2) AS jac_hi, n_pairs
        |FROM hist ORDER BY jac_lo""".stripMargin

  val ngramOracle: String =
    shingleCte +
      s""",
        |hot AS (SELECT s FROM sh GROUP BY s
        |  HAVING COUNT(*) > $DefaultMaxShingleDf),
        |kept AS (SELECT doc_id, s FROM sh
        |  WHERE s NOT IN (SELECT s FROM hot)),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM kept GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
        |  FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT da, db,
        | ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jac
        |FROM inter
        |JOIN sizes sa ON da = sa.doc_id
        |JOIN sizes sb ON db = sb.doc_id
        |WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= $DefaultJaccardThreshold
        |ORDER BY da, db""".stripMargin

  /** Connected components as a recursive CTE: `reach` is the transitive
    * closure of the symmetric pair graph (component_size² rows per
    * component — fine for an oracle over bounded near-dup families), and
    * the min reachable id per doc is exactly the propagated min label.
    * Shared prefix for [[clustersOracle]] and [[clusterSizesOracle]].
    */
  private val ccReachCte: String =
    shingleCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
      s""",
        |hot AS (SELECT s FROM sh GROUP BY s
        |  HAVING COUNT(*) > $DefaultMaxShingleDf),
        |kept AS (SELECT doc_id, s FROM sh
        |  WHERE s NOT IN (SELECT s FROM hot)),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM kept GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
        |  FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (SELECT da, db FROM inter
        |  JOIN sizes sa ON da = sa.doc_id
        |  JOIN sizes sb ON db = sb.doc_id
        |  WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= $DefaultJaccardThreshold),
        |edges AS (SELECT da AS src, db AS dst FROM pairs
        |  UNION ALL SELECT db, da FROM pairs),
        |nodes AS (SELECT DISTINCT src AS doc_id FROM edges),
        |reach(doc_id, root) AS (
        |  SELECT doc_id, doc_id FROM nodes
        |  UNION
        |  SELECT e.src, r.root FROM edges e JOIN reach r ON e.dst = r.doc_id)""".stripMargin

  val clustersOracle: String =
    ccReachCte +
      """
        |SELECT min(root) AS cluster_id, doc_id,
        |  (doc_id = min(root)) AS keep
        |FROM reach GROUP BY doc_id
        |ORDER BY cluster_id, doc_id""".stripMargin

  /** Oracle for [[clusterSizes]]: the same transitive closure, rolled up
    * to a size histogram over the min-label components.
    */
  val clusterSizesOracle: String =
    ccReachCte +
      """,
        |m AS (SELECT min(root) AS cluster_id, doc_id
        |  FROM reach GROUP BY doc_id),
        |cs AS (SELECT cluster_id, COUNT(*) AS sz FROM m GROUP BY 1)
        |SELECT CAST(sz AS BIGINT) AS cluster_size,
        |  CAST(COUNT(*) AS BIGINT) AS n_clusters,
        |  CAST(sz * COUNT(*) AS BIGINT) AS n_docs
        |FROM cs GROUP BY sz ORDER BY cluster_size""".stripMargin

  /** Oracle for [[dedupKeep]]: the same transitive closure, the survivor
    * picked by a (n_chars DESC, doc_id) window over the member join.
    */
  val dedupKeepOracle: String =
    ccReachCte +
      """,
        |m AS (SELECT min(root) AS cluster_id, doc_id
        |  FROM reach GROUP BY doc_id),
        |j AS (SELECT m.cluster_id, m.doc_id, d.n_chars
        |  FROM m JOIN documents d USING (doc_id)),
        |sel AS (SELECT cluster_id, doc_id, n_chars,
        |  ROW_NUMBER() OVER (PARTITION BY cluster_id
        |    ORDER BY n_chars DESC, doc_id) AS rn FROM j)
        |SELECT cluster_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_members,
        |  CAST(MAX(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT) AS keep_id,
        |  CAST(MAX(CASE WHEN rn = 1 THEN n_chars END) AS BIGINT)
        |    AS keep_chars,
        |  CAST(SUM(n_chars) - MAX(CASE WHEN rn = 1 THEN n_chars END)
        |    AS BIGINT) AS dropped_chars
        |FROM sel GROUP BY cluster_id ORDER BY cluster_id""".stripMargin

  val minhashOracle: String =
    shingleCte +
      s""",
         |mh AS (SELECT doc_id, $minhashMinsSql FROM sh GROUP BY doc_id),
         |bands AS ($minhashBandsSql)
         |SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS n_bands
         |FROM bands a JOIN bands b
         |  ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 ORDER BY da, db""".stripMargin

  /** Oracle for [[minhashRecall]]: the minhash candidate CTEs (generated
    * in lockstep with [[minhashOracle]]) left-joined against the graded
    * exact-Jaccard truth CTEs, cumulated over the band cutoff.
    */
  val minhashRecallOracle: String =
    shingleCte +
      s""",
         |$keptInterSql,
         |truth AS (SELECT da, db FROM inter
         |  JOIN sizes sa ON da = sa.doc_id
         |  JOIN sizes sb ON db = sb.doc_id
         |  WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= $DefaultJaccardThreshold),
         |mh AS (SELECT doc_id, $minhashMinsSql FROM sh GROUP BY doc_id),
         |bands AS ($minhashBandsSql),
         |cand AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS n_bands
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |per AS (SELECT c.n_bands,
         |    CASE WHEN t.da IS NULL THEN 0 ELSE 1 END AS hit
         |  FROM cand c LEFT JOIN truth t ON c.da = t.da AND c.db = t.db),
         |agg AS (SELECT n_bands, CAST(COUNT(*) AS BIGINT) AS n_cand_b,
         |    CAST(SUM(hit) AS BIGINT) AS n_hit_b
         |  FROM per GROUP BY 1),
         |cum AS (SELECT n_bands AS min_bands,
         |    SUM(n_cand_b) OVER (ORDER BY n_bands DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS n_candidates,
         |    SUM(n_hit_b) OVER (ORDER BY n_bands DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS n_true_caught
         |  FROM agg),
         |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth FROM truth)
         |SELECT min_bands, CAST(n_candidates AS BIGINT) AS n_candidates,
         |  CAST(n_true_caught AS BIGINT) AS n_true_caught, n_truth,
         |  CASE WHEN n_truth > 0 THEN
         |    ROUND(CAST(n_true_caught AS DOUBLE) / n_truth, 4)
         |  END AS recall,
         |  ROUND(CAST(n_true_caught AS DOUBLE) / n_candidates, 4)
         |    AS precision
         |FROM cum CROSS JOIN tot ORDER BY min_bands""".stripMargin

  /** Oracle for [[ngramNovelty]]: distinct (shingle, source) pairs, the
    * single-source shingles attributed via min(source).
    */
  val ngramNoveltyOracle: String =
    shingleCte +
      """,
        |ss AS (SELECT DISTINCT sh.s, d.source
        |  FROM sh JOIN documents d USING (doc_id)),
        |per AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS n_src,
        |  MIN(source) AS only_src FROM ss GROUP BY s),
        |tot AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_shingles
        |  FROM ss GROUP BY source),
        |uniq AS (SELECT only_src AS source, CAST(COUNT(*) AS BIGINT)
        |  AS n_unique FROM per WHERE n_src = 1 GROUP BY 1)
        |SELECT t.source, t.n_shingles,
        |  COALESCE(u.n_unique, 0) AS n_unique,
        |  ROUND(CAST(COALESCE(u.n_unique, 0) AS DOUBLE) / t.n_shingles, 4)
        |    AS novelty_rate
        |FROM tot t LEFT JOIN uniq u USING (source)
        |ORDER BY t.source""".stripMargin

  /** Shared signature CTE (`sig(doc_id, simhash)`) for the simhash oracle
    * pair — generated so the 16-term CASE chain stays in lockstep with the
    * Scala side.
    */
  private val simhashSigCte: String = {
    val sums = (1 to 16).map(i =>
      s"SUM(CASE WHEN substring(md5(w), $i, 1) BETWEEN '0' AND '7' " +
        s"THEN -1 ELSE 1 END) AS s$i").mkString(", ")
    val bits = (1 to 16).map(i =>
      s"(CASE WHEN s$i > 0 THEN ${1L << (i - 1)} ELSE 0 END)")
      .mkString(" + ")
    s"""WITH t AS (SELECT doc_id, UNNEST(list_distinct(
       |  list_filter(string_split(text, ' '), x -> x <> ''))) AS w
       |  FROM documents),
       |b AS (SELECT doc_id, $sums FROM t GROUP BY doc_id),
       |sig AS (SELECT doc_id, CAST($bits AS BIGINT) AS simhash FROM b)"""
      .stripMargin
  }

  val simhashOracle: String =
    simhashSigCte +
      "\nSELECT doc_id, simhash FROM sig ORDER BY doc_id"

  val simhashPairsOracle: String = {
    val sums = (1 to 64).map(i =>
      s"SUM(CASE WHEN substring(d, $i, 1) BETWEEN '0' AND '7' " +
        s"THEN -1 ELSE 1 END) AS s$i").mkString(", ")
    def half(lowBit: Int): String = (lowBit to lowBit + 31)
      .map(i => s"(CASE WHEN s$i > 0 THEN ${1L << (i - lowBit)} ELSE 0 END)")
      .mkString(" + ")
    s"""WITH t AS (SELECT doc_id, UNNEST(list_distinct(
       |  list_filter(string_split(text, ' '), x -> x <> ''))) AS w
       |  FROM documents),
       |h AS (SELECT doc_id, md5(w) || md5('y:' || w) AS d FROM t),
       |b AS (SELECT doc_id, $sums FROM h GROUP BY doc_id),
       |sig AS (SELECT doc_id, CAST(${half(1)} AS BIGINT) AS sig_hi,
       |  CAST(${half(33)} AS BIGINT) AS sig_lo FROM b),
       |bands AS (SELECT doc_id, sig_hi, sig_lo, g.i AS band,
       |  CASE g.i WHEN 0 THEN (sig_hi >> 16) & 65535
       |           WHEN 1 THEN sig_hi & 65535
       |           WHEN 2 THEN (sig_lo >> 16) & 65535
       |           ELSE sig_lo & 65535 END AS key
       |  FROM sig CROSS JOIN (SELECT UNNEST([0, 1, 2, 3]) AS i) g),
       |cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db,
       |  a.sig_hi AS hi_a, a.sig_lo AS lo_a, b.sig_hi AS hi_b, b.sig_lo AS lo_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
       |SELECT da, db, CAST(bit_count(xor(hi_a, hi_b))
       |  + bit_count(xor(lo_a, lo_b)) AS BIGINT) AS hamming
       |FROM cand
       |WHERE bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b)) <= 3
       |ORDER BY da, db""".stripMargin
  }

  /** EXACT-SUBSTRING duplication — the span-level tier of the dedup
    * family (doc-level exact `q_dedup_docs`, set-similarity
    * `q_dedup_ngram`/minhash/simhash, embedding `q_dedup_embed`; this is
    * the pass corpus pipelines run to find verbatim k-token passages
    * repeated ACROSS documents — boilerplate, licenses, syndicated
    * paragraphs — which set-similarity scores ignore when the rest of
    * the documents differ). Per document: how many of its k-token
    * positions start a span that also appears verbatim in another
    * document, as a removal/penalty signal.
    *
    * Scale shape: one explode produces a position row per k-gram
    * (linear, `q_tfidf`'s budget), immediately collapsed MAP-SIDE to a
    * 128-bit digest (two independent codegen'd xxhash64 values — r9;
    * md5 before, same width, but md5 allocates a MessageDigest per
    * position and ships 32-char hex) — every later stage shuffles
    * fixed-width digests, never the k-token strings themselves (at
    * corpus scale the raw positional grams are ~k× the corpus; the
    * digests are ~corpus-token-count × 16 B). Then: partial-agg'd
    * groupBy (doc, digest) collapses
    * within-doc repeats, a count window over the digest attaches each
    * span's cross-document frequency (a counter per span — NO pair
    * generation, so a boilerplate span shared by a million documents
    * costs one spill-safe window group, not 10¹² pairs, which is why
    * this tier needs no maxDf stop-span guard), and a final per-doc
    * aggregate folds the flags. Three skinny shuffles, no join, no
    * materialization barrier. 128 digest bits (not a single 64-bit
    * hash) keep the "exact" claim honest at corpus scale; the oracle
    * compares only the per-doc COUNTS, so each engine may group by its
    * own injective digest (DuckDB keeps md5) — the counts agree as
    * long as neither collides, which 2⁻¹²⁸ guarantees for both.
    */
  def substringDup(s: SparkSession, dir: String, k: Int = 8): DataFrame =
    substringDupFrom(docsParallel(s, dir), k)

  /** [[substringDup]] over any (doc_id, text) DataFrame — the seam the
    * property suite drives with generated corpora.
    */
  def substringDupFrom(docs: DataFrame, k: Int): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val grams = docs
      .select($"doc_id", split(lower($"text"), " ").as("ts"))
      .filter(size($"ts") >= k)
      .select($"doc_id", $"ts",
        explode(sequence(lit(1), size($"ts") - (k - 1))).as("i"))
      // digest = a PAIR of independent xxhash64 values (128 bits
      // together): codegen'd, allocation-free, and a 16-byte fixed
      // shuffle key — where md5 paid a MessageDigest allocation per
      // position and shipped 32-char hex strings. (sf0.1 wall-clock is
      // within run-to-run noise of the md5 form — r9-verdict rerun —
      // the digest-width win is a shuffle-bytes argument, not a
      // measured local speedup.) The digests never reach the output (only
      // span COUNTS do), so any injective-on-the-data keying matches
      // the oracle; 2⁻¹²⁸ collision odds keep "exact" honest at any
      // corpus size, same as md5's 128 bits.
      .select($"doc_id",
        struct(
          xxhash64(array_join(slice($"ts", $"i", lit(k)), " ")),
          xxhash64(lit(1), array_join(slice($"ts", $"i", lit(k)), " ")))
          .as("g"))
    val perDocGram = grams.groupBy($"doc_id", $"g")
      .agg(count(lit(1)).as("n_pos"))
    val wNd = org.apache.spark.sql.expressions.Window.partitionBy($"g")
    perDocGram
      .withColumn("nd", count(lit(1)).over(wNd)) // docs sharing the span
      .groupBy($"doc_id")
      .agg(sum($"n_pos").as("n_spans"),
        sum(when($"nd" > 1, $"n_pos").otherwise(0L)).as("n_dup_spans"))
      .filter($"n_dup_spans" > 0)
      .withColumn("dup_ratio",
        round($"n_dup_spans".cast("double") / $"n_spans", 4))
      .orderBy($"doc_id")
  }

  /** Oracle for [[substringDup]] (k = 8 fixed; `7` below is k−1 —
    * DuckDB list slices are 1-based inclusive, generate_series
    * inclusive; md5 is hex-lowercase in both engines).
    */
  /** Largest shared-span width per document (q_max_dup_span) — the
    * dedup-DEPTH signal next to [[substringDup]]'s fixed-width count:
    * for each doc, the widest level k ∈ `levels` at which some k-token
    * span also appears verbatim in ANOTHER document, plus the dup-span
    * count at that level. A doc flagged at 8 shares a phrase; one
    * flagged at 64 shares a wall of text — the triage a span-level
    * dedup action wants before deciding cut vs drop (the
    * deduplicate-text-datasets question asked per level instead of via
    * a suffix array).
    *
    * Scale shape: ONE corpus scan — all levels' span digests are built
    * in the array domain per doc (`filter` the level list by doc
    * length, nested `transform`, the winnowFps idiom) and explode to
    * ≤ |levels| × token-count rows of (k, 16-byte digest); then
    * exactly the [[substringDup]] machinery with k riding the key —
    * groupBy (doc, k, digest), ONE count window over (k, digest)
    * (a counter per span, never pair generation), and two group-row
    * aggregates. Containment makes the level list cheap: a shared 2k
    * span implies shared k spans, so higher levels only ever shrink
    * the flagged set. Digests are the xxhash64 pair (128 bits,
    * internal only — the oracle computes the same COUNTS via md5).
    */
  def maxDupSpan(s: SparkSession, dir: String,
                 levels: Seq[Int] = Seq(8, 16, 32, 64)): DataFrame =
    maxDupSpanFrom(docsParallel(s, dir), levels)

  /** [[maxDupSpan]] over any (doc_id, text) DataFrame — the seam the
    * property suite drives with generated corpora.
    */
  def maxDupSpanFrom(docs: DataFrame,
                     levels: Seq[Int] = Seq(8, 16, 32, 64)): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val lvl = levels.sorted
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"k", $"g")
    docs
      .select($"doc_id", split(lower($"text"), " ").as("ts"))
      .filter(size($"ts") >= lvl.head)
      .select($"doc_id", explode(expr(
        s"""flatten(transform(
           |  filter(array(${lvl.mkString(",")}), k -> size(ts) >= k),
           |  k -> transform(sequence(1, size(ts) - k + 1), i ->
           |    named_struct(
           |      'k', k,
           |      'h1', xxhash64(array_join(slice(ts, i, k), ' ')),
           |      'h2', xxhash64(1, array_join(slice(ts, i, k), ' '))))))"""
          .stripMargin)).as("s"))
      .select($"doc_id", $"s.k".as("k"), struct($"s.h1", $"s.h2").as("g"))
      .groupBy($"doc_id", $"k", $"g").agg(count(lit(1)).as("n_pos"))
      .withColumn("nd", count(lit(1)).over(w))
      .groupBy($"doc_id", $"k")
      .agg(sum(when($"nd" > 1, $"n_pos").otherwise(0L)).as("n_dup"))
      .filter($"n_dup" > 0)
      .groupBy($"doc_id")
      .agg(max(struct($"k", $"n_dup")).as("m"))
      .select($"doc_id", $"m.k".cast("long").as("max_dup_span"),
        $"m.n_dup".as("n_spans_at_max"))
      .orderBy($"doc_id")
  }

  /** Oracle for [[maxDupSpan]] — same level list, same token rule, md5
    * digests (counts only, so any injective keying matches).
    */
  private[graft] def maxDupSpanSql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS ts
      |  FROM documents
      |  WHERE len(string_split(lower(text), ' ')) >= 8),
      |lv AS (SELECT UNNEST([8, 16, 32, 64]) AS k),
      |pos AS (
      |  SELECT doc_id, ts, k,
      |    UNNEST(generate_series(1, len(ts) - k + 1)) AS i
      |  FROM toks CROSS JOIN lv WHERE len(ts) >= k),
      |grams AS (
      |  SELECT doc_id, k, md5(array_to_string(ts[i:i+k-1], ' ')) AS g
      |  FROM pos),
      |pg AS (
      |  SELECT doc_id, k, g, COUNT(*) AS n_pos FROM grams
      |  GROUP BY doc_id, k, g),
      |w AS (
      |  SELECT doc_id, k, n_pos,
      |    COUNT(*) OVER (PARTITION BY k, g) AS nd FROM pg),
      |l AS (
      |  SELECT doc_id, k,
      |    CAST(SUM(CASE WHEN nd > 1 THEN n_pos ELSE 0 END) AS BIGINT)
      |      AS n_dup
      |  FROM w GROUP BY doc_id, k
      |  HAVING SUM(CASE WHEN nd > 1 THEN n_pos ELSE 0 END) > 0)
      |SELECT doc_id, CAST(k AS BIGINT) AS max_dup_span,
      |  n_dup AS n_spans_at_max
      |FROM l
      |QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY k DESC) = 1
      |ORDER BY doc_id""".stripMargin

  private[graft] def substringDupSql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS ts
      |  FROM documents
      |  WHERE len(string_split(lower(text), ' ')) >= 8),
      |pos AS (
      |  SELECT doc_id, ts, UNNEST(generate_series(1, len(ts) - 7)) AS i
      |  FROM toks),
      |grams AS (
      |  SELECT doc_id, md5(array_to_string(ts[i:i+7], ' ')) AS g FROM pos),
      |pg AS (
      |  SELECT doc_id, g, COUNT(*) AS n_pos FROM grams GROUP BY doc_id, g),
      |w AS (
      |  SELECT doc_id, n_pos, COUNT(*) OVER (PARTITION BY g) AS nd FROM pg)
      |SELECT doc_id,
      |  CAST(SUM(n_pos) AS BIGINT) AS n_spans,
      |  CAST(SUM(CASE WHEN nd > 1 THEN n_pos ELSE 0 END) AS BIGINT)
      |    AS n_dup_spans,
      |  ROUND(CAST(SUM(CASE WHEN nd > 1 THEN n_pos ELSE 0 END) AS DOUBLE)
      |    / SUM(n_pos), 4) AS dup_ratio
      |FROM w
      |GROUP BY doc_id
      |HAVING CAST(SUM(CASE WHEN nd > 1 THEN n_pos ELSE 0 END) AS BIGINT) > 0
      |ORDER BY doc_id""".stripMargin

  /** WINNOWING document fingerprints (Schleimer, Wilkerson & Aiken,
    * "Winnowing: Local Algorithms for Document Fingerprinting",
    * SIGMOD 2003 — the MOSS algorithm): per document, hash every k-token
    * gram (k = 3), slide a window of w = 4 consecutive gram hashes, and
    * select each window's minimum (rightmost-position tie-break). The
    * selected set is a position-robust fingerprint with two guarantees
    * the paper proves: (a) any verbatim shared run of ≥ w + k − 1 = 6
    * tokens contributes at least one SHARED selected fingerprint to both
    * documents, and (b) selection density is bounded (≈ 2/(w+1) of
    * positions), so the fingerprint index is a constant fraction of the
    * corpus regardless of duplication structure. This sits between
    * `q_dedup_substring` (every span hashed — exhaustive but k-gram-
    * volume index) and `q_dedup_minhash` (constant-size sketch — no
    * localization): a bounded-density index that still localizes matches.
    *
    * Report: per doc the selected-fingerprint count, how many of those
    * fingerprints also appear in ANOTHER document's selection, and the
    * shared fraction — the span-level containment signal at winnowed
    * cost.
    *
    * Scale shape: one scan, one positional explode (the `q_tfidf`
    * budget), a doc-partitioned min window (the selection), a DISTINCT
    * on (doc, fingerprint), and a fingerprint-partitioned count window —
    * a counter per fingerprint, NO pair generation (the
    * `q_dedup_substring` argument: a boilerplate fingerprint shared by a
    * million docs is one window group, never 10¹² pairs). Determinism:
    * the min key packs (32-bit md5 prefix, inverted position < 2³¹)
    * into ONE long — `hash·2³¹ + (2³¹−1−i)` — whose numeric order is
    * exactly (hash asc, position desc), the same total order the
    * oracle's 18-char string key (8 hex chars ‖ zero-padded inverted
    * position) sorts by, so both engines select the identical gram; the
    * long form keeps the min window, the df window, and the pair join
    * on 8-byte keys instead of strings (VERDICT r12: the 8-hex-char
    * join key was q_winnow_pairs' flagged constant factor).
    */
  def winnowFingerprints(s: SparkSession, dir: String,
                         w: Int = DefaultWinnowW): DataFrame = {
    import s.implicits._
    val byFp = org.apache.spark.sql.expressions.Window.partitionBy($"fp")
    winnowFps(s, dir, w)
      .withColumn("nd", count(lit(1)).over(byFp))
      .groupBy($"doc_id", $"n_grams")
      .agg(count(lit(1)).as("n_fp"),
        sum(when($"nd" > 1, 1L).otherwise(0L)).as("n_shared_fp"))
      .withColumn("shared_ratio",
        round($"n_shared_fp".cast("double") / $"n_fp", 4))
      .orderBy($"doc_id")
  }

  /** Distinct selected winnowing fingerprints per doc — the shared
    * pipeline under [[winnowFingerprints]] (per-doc report) and
    * [[winnowPairs]] (candidate pair list).
    *
    * r13 shape: the ENTIRE selection runs in the array domain inside
    * one projection per document — gram keys via `transform` (md5 per
    * gram, same formula the oracle runs), the sliding min via
    * `transform` + `array_min(slice(…))`, per-doc dedup via
    * `array_distinct` — and only the selected fingerprints (winnowed
    * density ≈ 2/(w+1) of positions) ever become rows. The previous
    * form exploded EVERY gram to a row and paid two gram-volume
    * exchanges (the doc-window sort and the DISTINCT) before shrinking;
    * the WinnowExp decomposition showed that selection stage was ~⅔ of
    * q_winnow_pairs' wall. Selection is per-doc local, so nothing
    * gram-sized ever shuffles; the array transient is O(doc tokens) —
    * the same bound the tokens array itself already set.
    */
  private[graft] def winnowFps(s: SparkSession, dir: String,
                               w: Int): DataFrame = {
    import s.implicits._
    docsParallel(s, dir)
      .select($"doc_id",
        expr("filter(split(text, ' '), t -> t != '')").as("ts"))
      .filter(size($"ts") >= N)
      .select($"doc_id", (size($"ts") - (N - 1)).cast("long").as("n_grams"),
        $"ts")
      // hash·2³¹ + (2³¹−1−i): numeric min ≡ (hash asc, position desc),
      // the oracle's string-key order — see the Determinism note
      .select($"doc_id", $"n_grams",
        expr(s"""transform(sequence(1, cast(n_grams as int)), i ->
          cast(conv(substring(md5(array_join(slice(ts, i, $N), ' ')),
            1, 8), 16, 10) as bigint) * 2147483648
          + (2147483647 - i))""").as("keys"))
      // full windows only: window j exists for j ≤ P − w + 1; a doc with
      // fewer than w grams keeps its single all-grams window at j = 1
      .select($"doc_id", $"n_grams",
        explode(expr(s"""array_distinct(transform(
          sequence(1, cast(greatest(n_grams - ${w - 1}, 1) as int)),
          j -> shiftrightunsigned(
            array_min(slice(keys, j,
              least($w, cast(n_grams as int) - j + 1))), 31)))"""))
          .as("fp"))
  }

  /** Winnowing CANDIDATE PAIRS — the match list the fingerprint index
    * exists to produce: document pairs sharing ≥ `minShared` selected
    * fingerprints, with the shared count. The winnowing guarantee gives
    * ≥ 1 shared selection per shared ≥ 6-token run, so a pair lands
    * here when its shared content yields ≥ 2 DISTINCT selected
    * fingerprints that each survive the df cap — two different shared
    * runs, or one run long enough to select twice. Two caveats the
    * guarantee sentence must carry: a run REPEATED verbatim contributes
    * the same fingerprint value once (distinct semantics), and a
    * fingerprint in more than `maxDf` docs is dropped as boilerplate —
    * a pair whose only shared content is corpus-wide boilerplate is
    * deliberately NOT a candidate. `minShared = 2` suppresses
    * single-collision noise.
    *
    * Scale shape: the bounded-posting-list class — fingerprints with
    * df > `maxDf` are dropped BEFORE any pair is generated (a
    * boilerplate fingerprint in a million docs would otherwise pay df²
    * pairs; the winnowed density bound keeps the fingerprint table a
    * constant fraction of the corpus, and the cap bounds any key's
    * pair cost at maxDf²), singletons (df = 1) can't form pairs and
    * are dropped by the same df gate. Oracle applies the identical cap.
    *
    * r18 plan (replacing the r13 count-window form — the one weak-set
    * member that was neither floor-closed nor weather, 0.91 s tight at
    * 2.49× its anchor): the df gate and the posting-list collect are
    * ONE bounded hash aggregation on the fp key —
    * [[graft.functions.BoundedCollect]] caps every group's state at
    * maxDf + 1 doc ids (the `ngramInterSizes` discipline), `size(ds)`
    * IS the df, and overflow (size > maxDf) is the boilerplate drop.
    * This deletes the window form's full SORT of the selection output
    * inside the fp exchange AND its second pass over the sorted rows
    * (window count, then a re-aggregating collect), replacing both
    * with a single hash aggregate that also combines map-side.
    * Memory stays bounded where the window form bounded it: the
    * pathological boilerplate fp buffers maxDf + 1 longs, never its
    * true posting list. Pairs are then generated inside the array
    * domain (`transform` over the ≤ maxDf list) and aggregated on
    * (da, db) — the old a×b self-join's second probe stays deleted.
    * Measured interleaved in one JVM (WinnowExp r18, TIMEQ_r18.json):
    * warm medians at parity with the window form — at sf0.1 both are
    * floor-dominated (the ~0.42 s md5 gram-scan selection + two
    * semantic exchanges) — with a faster cold round; the win is
    * structural, and it is what matters at 100 TB: no sort of the
    * selection output, and bounded state instead of a spillable sort
    * under a boilerplate fingerprint.
    */
  def winnowPairs(s: SparkSession, dir: String, w: Int = DefaultWinnowW,
                  minShared: Int = DefaultWinnowMinShared,
                  maxDf: Int = DefaultMaxShingleDf): DataFrame = {
    import s.implicits._
    winnowFps(s, dir, w)
      .groupBy($"fp")
      .agg(graft.functions.BoundedCollect.boundedCollectLong(maxDf)($"doc_id")
        .as("ds0"))
      .filter(size($"ds0").between(2, maxDf))
      .select(sort_array($"ds0").as("ds"))
      .select(explode(expr(
        """flatten(transform(ds, (a, i) ->
          |  transform(slice(ds, i + 2, size(ds)), b ->
          |    struct(a AS da, b AS db))))""".stripMargin)).as("p"))
      .groupBy($"p.da".as("da"), $"p.db".as("db"))
      .agg(count(lit(1)).as("n_shared"))
      .filter($"n_shared" >= minShared)
      .orderBy($"da", $"db")
  }

  /** Graded minimum shared-fingerprint count for [[winnowPairs]] — one
    * definition feeding the Spark default, the oracle SQL, and the spec
    * recompute, so a retune cannot desynchronize them.
    */
  val DefaultWinnowMinShared = 2

  /** Oracle for [[winnowPairs]] (same winnow CTEs as
    * [[winnowFingerprintsOracle]]; df cap and min-shared interpolated
    * from the same constants the Spark side defaults to).
    */
  val winnowPairsOracle: String =
    s"""WITH toks AS (SELECT doc_id,
      |  list_filter(string_split(text, ' '), x -> x <> '') AS ts
      |  FROM documents),
      |g AS (SELECT doc_id, CAST(len(ts) - 2 AS BIGINT) AS n_grams, ts,
      |  UNNEST(generate_series(1, len(ts) - 2)) AS i
      |  FROM toks WHERE len(ts) >= 3),
      |h AS (SELECT doc_id, n_grams, i,
      |  substring(md5(array_to_string(ts[i:i+2], ' ')), 1, 8)
      |    || lpad(CAST(9999999999 - i AS VARCHAR), 10, '0') AS key
      |  FROM g),
      |sel AS (SELECT doc_id, n_grams, i, MIN(key) OVER (
      |  PARTITION BY doc_id ORDER BY i
      |  ROWS BETWEEN CURRENT ROW AND ${DefaultWinnowW - 1} FOLLOWING) AS sk FROM h),
      |fp AS (SELECT DISTINCT doc_id, substring(sk, 1, 8) AS fp
      |  FROM sel WHERE i <= GREATEST(n_grams - ${DefaultWinnowW - 1}, 1)),
      |nd AS (SELECT doc_id, fp,
      |  COUNT(*) OVER (PARTITION BY fp) AS nd FROM fp),
      |k AS (SELECT doc_id, fp FROM nd
      |  WHERE nd BETWEEN 2 AND $DefaultMaxShingleDf)
      |SELECT a.doc_id AS da, b.doc_id AS db,
      |  CAST(COUNT(*) AS BIGINT) AS n_shared
      |FROM k a JOIN k b ON a.fp = b.fp AND a.doc_id < b.doc_id
      |GROUP BY 1, 2 HAVING COUNT(*) >= $DefaultWinnowMinShared
      |ORDER BY da, db""".stripMargin

  /** Oracle for [[winnowFingerprints]] (k = 3 fixed — the family-wide
    * shingle width; `2` is k−1; w interpolated from [[DefaultWinnowW]];
    * DuckDB list slices are 1-based inclusive).
    */
  val winnowFingerprintsOracle: String =
    s"""WITH toks AS (SELECT doc_id,
      |  list_filter(string_split(text, ' '), x -> x <> '') AS ts
      |  FROM documents),
      |g AS (SELECT doc_id, CAST(len(ts) - 2 AS BIGINT) AS n_grams, ts,
      |  UNNEST(generate_series(1, len(ts) - 2)) AS i
      |  FROM toks WHERE len(ts) >= 3),
      |h AS (SELECT doc_id, n_grams, i,
      |  substring(md5(array_to_string(ts[i:i+2], ' ')), 1, 8)
      |    || lpad(CAST(9999999999 - i AS VARCHAR), 10, '0') AS key
      |  FROM g),
      |sel AS (SELECT doc_id, n_grams, i, MIN(key) OVER (
      |  PARTITION BY doc_id ORDER BY i
      |  ROWS BETWEEN CURRENT ROW AND ${DefaultWinnowW - 1} FOLLOWING) AS sk FROM h),
      |fp AS (SELECT DISTINCT doc_id, n_grams, substring(sk, 1, 8) AS fp
      |  FROM sel WHERE i <= GREATEST(n_grams - ${DefaultWinnowW - 1}, 1)),
      |nd AS (SELECT doc_id, n_grams,
      |  COUNT(*) OVER (PARTITION BY fp) AS nd FROM fp)
      |SELECT doc_id, n_grams, CAST(COUNT(*) AS BIGINT) AS n_fp,
      |  CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_shared_fp,
      |  ROUND(CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / COUNT(*), 4) AS shared_ratio
      |FROM nd GROUP BY doc_id, n_grams ORDER BY doc_id""".stripMargin
}
