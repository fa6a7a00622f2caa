package graft

import org.apache.spark.sql.functions._

/** One-JVM decomposition for the CC-closure family (r20 — the largest
  * untouched block of the bench: ~12 rows × 1.3–3.0 s all ride one of
  * two edge sources plus the shared min-label CC loop). Every previous
  * round justified leaving the family alone by its DuckDB anchor ratio
  * (0.11–0.16×); this harness adds what that justification lacked — a
  * committed stage-level attribution of WHERE each row's seconds sit,
  * so "left alone" is evidence, not an assertion.
  *
  * Semantic tier (q_semantic_clusters / q_cluster_purity /
  * q_label_dup_rate / q_label_token_yield / q_epoch_plan_dedup):
  *
  *   sem_pairs — [[operators.VectorOps.cellPairs]] alone: quantizer
  *               resolve (count + bounded sample collect + driver
  *               Lloyd), the typed cell-assignment flatMap, the
  *               cell-keyed self-join, exact-cosine filter, pair
  *               max-collapse;
  *   sem_cc    — [[operators.DedupOps.minLabelComponents]] (the
  *               distributed loop) over an eagerly checkpointed, counted
  *               pair list (prepared OUTSIDE the timed region): the
  *               min-label loop's sequential actions and nothing else;
  *   sem_full  — the graded q_semantic_clusters composition;
  *   purity    — q_cluster_purity; its rollup tail ≈ purity − sem_full.
  *
  * Text tier (q_dedup_clusters / q_dedup_keep / q_dup_rate_by_source /
  * q_dup_inflation / q_cross_source_dups / q_cluster_sizes …):
  *
  *   txt_pairs — [[operators.DedupOps.ngramPairs]] alone (the bounded
  *               posting-list pipeline: shingle explode, BoundedCollect
  *               shuffle, in-list pair emission, Jaccard filter);
  *   txt_cc    — the distributed loop over the checkpointed text pair
  *               list;
  *   txt_full  — the graded q_dedup_clusters composition.
  *
  * Job/stage counters (sampled after a listener-bus settle, the
  * BasketExp protocol) witness the action structure: the CC legs'
  * jobs ≈ 1 + rounds (fused-init sum, one sum per propagation round),
  * which is the sequential-action floor the wall clock pays at sf0.1.
  * The loop's round counts print once, with the row-identity check.
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
  *     SPARK_DRIVER_MEM=89g sbt "runMain graft.CcExp"
  */
object CcExp {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder(GraftSession.benchCpus)
      .config("spark.graft.cacheTables", "true").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rt = Runtime.getRuntime
    println(s"ENV master=${spark.sparkContext.master} " +
      s"max_heap_mb=${rt.maxMemory / (1024 * 1024)} " +
      s"cpus_env_set=${GraftSession.envCpusSet}")
    val jobs = new java.util.concurrent.atomic.AtomicLong(0)
    val stages = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet()
          stages.addAndGet(j.stageInfos.size)
        }
      })
    // one-time plan capture: does the expensive pass under each self-join
    // sit below a ReusedExchange (runs once) or replay per consumer?
    println("PLAN[sem_pairs]")
    operators.VectorOps.cellPairs(spark, sfDir, 0.4, 5).explain("formatted")
    println("PLAN[txt_pairs]")
    operators.DedupOps.ngramPairs(spark, sfDir, 0.5, 50).explain("formatted")
    // frozen pair lists for the cc-only legs — eagerly materialized here,
    // outside every timed region, so the cc legs time the loop alone
    val semPairsCkpt = operators.VectorOps.cellPairs(spark, sfDir, 0.4, 5)
      .select(col("a_id"), col("b_id")).localCheckpoint(true)
    val txtPairsCkpt = operators.DedupOps.ngramPairs(spark, sfDir, 0.5, 50)
      .select(col("da"), col("db")).localCheckpoint(true)
    val (semN, txtN) = (semPairsCkpt.count(), txtPairsCkpt.count())
    println(s"frozen sem_pairs=$semN txt_pairs=$txtN")
    def loop(pairs: org.apache.spark.sql.DataFrame, n: Long,
             jump: Boolean): operators.DedupOps.CcLoop =
      operators.DedupOps.minLabelComponents(spark, pairs.toDF("a", "b"),
        n * 2, labelJump = jump)
    // row identity of the two loop forms over the same frozen edges
    // (the oracle differ proves it again on the graded fixtures)
    val cla = loop(semPairsCkpt, semN, jump = false).rows
    val clb = loop(semPairsCkpt, semN, jump = true).rows
    println(s"jump_row_identity=${
      cla.exceptAll(clb).isEmpty && clb.exceptAll(cla).isEmpty}")
    for ((tag, pairs, n) <- Seq(("sem", semPairsCkpt, semN),
                                ("txt", txtPairsCkpt, txtN));
         jump <- Seq(false, true)) {
      val r = loop(pairs, n, jump)
      println(s"ROUNDS[${tag}_cc${if (jump) "_jump" else ""}] " +
        s"rounds=${r.rounds} star_finish=${r.starFinish}")
    }

    def time(tag: String, f: => Long): Unit = {
      val t0 = System.nanoTime()
      val j0 = jobs.get(); val s0 = stages.get()
      val c = f
      val secs = (System.nanoTime() - t0) / 1e9
      Thread.sleep(120) // listener-bus settle before sampling counters
      println(f"EXP[$tag] $secs%.3f s " +
        s"rows=$c jobs=${jobs.get() - j0} stages=${stages.get() - s0}")
    }
    def semPairs(): Long =
      operators.VectorOps.cellPairs(spark, sfDir, 0.4, 5).count()
    def semCc(): Long = loop(semPairsCkpt, semN, jump = false).rows.count()
    def semCcJump(): Long = loop(semPairsCkpt, semN, jump = true).rows.count()
    def semCcStar(): Long =
      operators.DedupOps.starContract(spark, semPairsCkpt).count()
    def semFull(): Long =
      operators.VectorOps.semanticClustersCell(spark, sfDir).count()
    def purity(): Long =
      operators.VectorOps.clusterPurity(spark, sfDir).count()
    def txtPairs(): Long =
      operators.DedupOps.ngramPairs(spark, sfDir, 0.5, 50).count()
    def txtPairsCk(): Long =
      operators.DedupOps.ngramPairs(spark, sfDir, 0.5, 50,
        ckptGrouped = true).count()
    def txtCc(): Long = loop(txtPairsCkpt, txtN, jump = false).rows.count()
    def txtCcJump(): Long = loop(txtPairsCkpt, txtN, jump = true).rows.count()
    def txtFull(): Long =
      operators.DedupOps.dedupClusters(spark, sfDir).count()

    val legs: Seq[(String, () => Long)] = Seq(
      "sem_pairs" -> (() => semPairs()),
      "sem_cc" -> (() => semCc()),
      "sem_cc_jump" -> (() => semCcJump()),
      "sem_cc_star" -> (() => semCcStar()),
      "sem_full" -> (() => semFull()),
      "purity" -> (() => purity()),
      "txt_pairs" -> (() => txtPairs()),
      "txt_pairs_ck" -> (() => txtPairsCk()),
      "txt_cc" -> (() => txtCc()),
      "txt_cc_jump" -> (() => txtCcJump()),
      "txt_full" -> (() => txtFull()))
    // warm every leg once (codegen + C2), then interleave timed rounds
    legs.foreach { case (n, f) => time(s"${n}_warm", f()) }
    for (r <- 1 to 5; (n, f) <- legs) time(s"${n}_$r", f())
    spark.stop()
  }
}
