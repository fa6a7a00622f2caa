package graft.sinks

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}
import graft.streaming.Event

class SinksSpec extends SparkSpec {

  private def ev(id: Long, t: String, user: Long, typ: String,
                 v: Double): Event =
    Event(id, java.sql.Timestamp.valueOf(t), user, typ, v, """{"k":1}""")

  test("partitioned write produces a prunable hive layout") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_sink").toString
    val docs = Tables(spark, sfTest, "documents")
    Sinks.writePartitioned(docs, s"$dir/docs", "lang")
    val langs = new java.io.File(s"$dir/docs").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(langs.forall(_.startsWith("lang=")) && langs.length == 5)
    // read back through the partitioned layout; a lang predicate must
    // become a partition filter (no data read from other dirs)
    val back = spark.read.parquet(s"$dir/docs").filter($"lang" === "en")
    assert(back.count() ==
      docs.filter($"lang" === "en").count())
    val planStr = back.queryExecution.executedPlan.toString
    assert(planStr.contains("PartitionFilters: [isnotnull(lang"),
      s"lang predicate did not reach partition pruning:\n$planStr")
  }

  test("partition compaction rewrites only the closed partitions, hides " +
    "its staging from readers, and completes a half-swapped crash") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_compactp").toString
    val docs = Tables(spark, sfTest, "documents")
    // a daily-append writer's leavings: four appends × repartition(3)
    // → ~12 small files per lang partition
    (1 to 4).foreach { _ =>
      docs.repartition(3).write.mode("append")
        .partitionBy("lang").parquet(s"$dir/docs")
    }
    val before = spark.read.parquet(s"$dir/docs").collect()
      .map(_.toString).sorted.toSeq
    val counts0 = Sinks.partitionFileCounts(spark, s"$dir/docs", "lang").toMap
    assert(counts0.size == 5 && counts0.values.forall(_ >= 4),
      s"fixture did not fragment: $counts0")

    def filesOf(lang: String) =
      new java.io.File(s"$dir/docs/lang=$lang").listFiles()
        .filter(f => f.isFile && !f.getName.startsWith("_")
          && !f.getName.startsWith("."))
        .map(f => (f.getName, f.length)).sorted.toSeq
    val esBefore = filesOf("es")

    // compact two "closed" partitions; everything else stays byte-level
    Sinks.compactPartitions(spark, s"$dir/docs", "lang", Seq("en", "fr"))
    assert(filesOf("en").length == 1 && filesOf("fr").length == 1,
      "compaction must leave one data file per closed partition")
    assert(filesOf("es") == esBefore,
      "an untouched partition's files changed")
    assert(spark.read.parquet(s"$dir/docs").collect()
      .map(_.toString).sorted.toSeq == before,
      "compaction changed the data")

    // crash between the two renames: staging written, live moved aside —
    // the exact state the swap protocol can strand
    val fsRoot = new org.apache.hadoop.fs.Path(s"$dir/docs")
    val fs = fsRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = new org.apache.hadoop.fs.Path(fsRoot, "lang=de")
    val staging = new org.apache.hadoop.fs.Path(fsRoot, ".compacting_de")
    spark.read.parquet(live.toString).repartition(1)
      .write.parquet(staging.toString)
    // the hidden staging dir must be invisible to readers of the root
    assert(spark.read.parquet(s"$dir/docs").collect()
      .map(_.toString).sorted.toSeq == before,
      "staging dir leaked into reads")
    fs.rename(live, new org.apache.hadoop.fs.Path(fsRoot, ".compacted_old_de"))
    // recovery: the next compaction call finishes the swap
    Sinks.compactPartitions(spark, s"$dir/docs", "lang", Seq("de"))
    assert(filesOf("de").length == 1)
    assert(spark.read.parquet(s"$dir/docs").collect()
      .map(_.toString).sorted.toSeq == before,
      "half-swap recovery lost rows")
    val counts1 = Sinks.partitionFileCounts(spark, s"$dir/docs", "lang").toMap
    assert(counts1("en") == 1 && counts1("de") == 1 && counts1("es") >= 4)
  }

  test("lake maintenance verbs: TTL drop, partition re-statement, and " +
    "row erasure touch exactly the named partitions") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_maint").toString
    val docs = Tables(spark, sfTest, "documents")
    Sinks.writePartitioned(docs, s"$dir/docs", "lang")
    def filesOf(lang: String) =
      new java.io.File(s"$dir/docs/lang=$lang").listFiles()
        .filter(f => f.isFile && !f.getName.startsWith("_")
          && !f.getName.startsWith("."))
        .map(f => (f.getName, f.length)).sorted.toSeq
    val enBefore = filesOf("en")
    val total = docs.count()
    val perLang = docs.groupBy($"lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

    // TTL: expired partitions drop as a metadata operation (idempotent)
    Sinks.dropPartitions(spark, s"$dir/docs", "lang", Seq("zh", "absent"))
    assert(!new java.io.File(s"$dir/docs/lang=zh").exists())
    assert(spark.read.parquet(s"$dir/docs").count() == total - perLang("zh"))

    // re-statement: replace ONLY the partitions the backfill carries —
    // here lang=de re-derives with a sentinel n_chars, en untouched
    val restated = docs.filter($"lang" === "de")
      .withColumn("n_chars", lit(-1L))
    Sinks.overwritePartitions(restated, s"$dir/docs", "lang")
    val back = spark.read.parquet(s"$dir/docs")
    assert(back.count() == total - perLang("zh"),
      "re-statement changed row counts outside its partitions")
    assert(back.filter($"lang" === "de")
      .filter($"n_chars" =!= -1L).count() == 0,
      "the re-stated partition does not carry the corrected column")
    assert(back.filter($"lang" =!= "de")
      .filter($"n_chars" === -1L).count() == 0,
      "the sentinel leaked outside the re-stated partition")
    assert(filesOf("en") == enBefore,
      "re-statement touched a partition it carried no rows for")

    // erasure: drop the matching rows from one partition, byte-identical
    // elsewhere; the rewrite compacts as a side effect
    val esDoomed = docs.filter($"lang" === "es" && $"doc_id" % 7 === 0).count()
    assert(esDoomed > 0, "fixture has no rows to erase — no test")
    Sinks.erasePartitionRows(spark, s"$dir/docs", "lang", Seq("es"),
      col("doc_id") % 7 === 0)
    val after = spark.read.parquet(s"$dir/docs")
    assert(after.filter($"lang" === "es" && $"doc_id" % 7 === 0).count() == 0,
      "erased rows still readable")
    assert(after.filter($"lang" === "es").count() ==
      perLang("es") - esDoomed, "erasure dropped more than it should")
    assert(filesOf("en") == enBefore, "erasure touched another partition")
    assert(after.count() == total - perLang("zh") - esDoomed)
  }

  test("mergePartitions applies a CDC changeset: upserts, deletes, and a " +
    "fresh partition, touching only the partitions the changes span") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_merge").toString
    val docs = Tables(spark, sfTest, "documents")
    Sinks.writePartitioned(docs, s"$dir/docs", "lang")
    def filesOf(lang: String) =
      new java.io.File(s"$dir/docs/lang=$lang").listFiles()
        .filter(f => f.isFile && !f.getName.startsWith("_")
          && !f.getName.startsWith("."))
        .map(f => (f.getName, f.length)).sorted.toSeq
    val esBefore = filesOf("es")
    val perLang = docs.groupBy($"lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = docs.count()

    // changeset: update 2 en docs (sentinel n_chars), insert one new en
    // doc + one doc in a language the archive has never seen, delete 2
    // de docs — all in ONE changeset spanning three partitions
    val enUpdatedIds = docs.filter($"lang" === "en")
      .select($"doc_id").orderBy($"doc_id").limit(2)
      .as[Long].collect().toSeq
    val deDoomedIds = docs.filter($"lang" === "de")
      .select($"doc_id").orderBy($"doc_id").limit(2)
      .as[Long].collect().toSeq
    val updates = docs.filter($"doc_id".isin(enUpdatedIds: _*))
      .withColumn("n_chars", lit(-5L)).withColumn("op", lit("upsert"))
    val inserts = Seq(
      (900001L, "brand new english doc", "en", "cdc", 21L, "upsert"),
      (900002L, "cau un document nou", "xx", "cdc", 19L, "upsert"))
      .toDF("doc_id", "text", "lang", "source", "n_chars", "op")
    val deletes = docs.filter($"doc_id".isin(deDoomedIds: _*))
      .withColumn("op", lit("delete"))
    val changes = updates.unionByName(inserts).unionByName(deletes)

    Sinks.mergePartitions(spark, s"$dir/docs", "lang", changes,
      Seq("doc_id"), opCol = Some("op"))

    val back = spark.read.parquet(s"$dir/docs")
    // updates: exactly the two rows carry the sentinel, old versions gone
    assert(back.filter($"n_chars" === -5L).select($"doc_id")
      .as[Long].collect().sorted.toSeq == enUpdatedIds.sorted)
    assert(back.filter($"doc_id".isin(enUpdatedIds: _*)).count() == 2,
      "an upserted key appears more than once")
    // inserts: present, including the created partition
    assert(back.filter($"doc_id" === 900001L && $"lang" === "en").count() == 1)
    assert(new java.io.File(s"$dir/docs/lang=xx").isDirectory)
    assert(back.filter($"lang" === "xx").select($"doc_id")
      .as[Long].collect().toSeq == Seq(900002L))
    // deletes: gone
    assert(back.filter($"doc_id".isin(deDoomedIds: _*)).count() == 0)
    assert(back.filter($"lang" === "de").count() == perLang("de") - 2)
    // untouched partition byte-identical; total accounting holds
    assert(filesOf("es") == esBefore, "merge touched an unaffected partition")
    assert(back.count() == total + 2 - 2)

    // idempotence of the delete + a second upsert round-trips
    Sinks.mergePartitions(spark, s"$dir/docs", "lang",
      changes.filter($"op" === "delete"), Seq("doc_id"), opCol = Some("op"))
    assert(spark.read.parquet(s"$dir/docs").count() == total)
  }

  test("maintenance verbs run concurrently on disjoint partitions " +
    "without interference") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dir = Files.createTempDirectory("graft_conc").toString
    val docs = Tables(spark, sfTest, "documents")
    (1 to 3).foreach { _ =>
      docs.repartition(3).write.mode("append")
        .partitionBy("lang").parquet(s"$dir/docs")
    }
    val total = spark.read.parquet(s"$dir/docs").count()
    val esBefore = spark.read.parquet(s"$dir/docs")
      .filter($"lang" === "es").count()
    // three different verbs, three different partitions, in parallel —
    // the nightly-maintenance shape (per-partition staging dirs mean
    // disjoint values never contend)
    val fCompact = Future {
      Sinks.compactPartitions(spark, s"$dir/docs", "lang", Seq("en"))
    }
    val fErase = Future {
      Sinks.erasePartitionRows(spark, s"$dir/docs", "lang", Seq("de"),
        col("doc_id") % 2 === 0)
    }
    val fMerge = Future {
      Sinks.mergePartitions(spark, s"$dir/docs", "lang",
        Seq((990001L, "happy new doc", "fr", "cdc", 13L))
          .toDF("doc_id", "text", "lang", "source", "n_chars"),
        Seq("doc_id"))
    }
    Await.result(Future.sequence(Seq(fCompact, fErase, fMerge)), 120.seconds)
    val after = spark.read.parquet(s"$dir/docs")
    val deDropped = docs.filter($"lang" === "de" && $"doc_id" % 2 === 0)
      .count() * 3 // fixture appended 3×
    assert(after.filter($"lang" === "es").count() == esBefore,
      "an untouched partition changed under concurrent maintenance")
    assert(after.filter($"lang" === "de" && $"doc_id" % 2 === 0).count() == 0)
    assert(after.filter($"doc_id" === 990001L).count() == 1)
    assert(after.count() == total - deDropped + 1)
    val files = new java.io.File(s"$dir/docs/lang=en").listFiles()
      .count(f => f.isFile && !f.getName.startsWith("_")
        && !f.getName.startsWith("."))
    assert(files == 1, "compaction did not land under concurrency")
  }

  test("seeded shard export: same permutation under any input " +
    "partitioning, different under a new seed, roughly balanced") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_shards").toString
    val docs = Tables(spark, sfTest, "documents")
    val nShards = 8
    Sinks.exportShuffled(docs, s"$dir/s1", "doc_id", nShards)
    // a differently-partitioned input must produce the SAME shards in
    // the SAME order — reproducibility is the contract
    Sinks.exportShuffled(docs.repartition(7), s"$dir/s2", "doc_id", nShards)
    def slurp(p: String): Seq[Seq[Long]] =
      (0 until nShards).map { i =>
        spark.read.json(s"$p/shard=$i").select($"doc_id")
          .as[Long].collect().toSeq
      }
    val s1 = slurp(s"$dir/s1")
    val s2 = slurp(s"$dir/s2")
    assert(s1 == s2, "shard contents or order depend on input partitioning")
    assert(s1.flatten.sorted == docs.select($"doc_id").as[Long]
      .collect().sorted.toSeq, "export lost or duplicated rows")
    assert(s1.exists(sh => sh != sh.sorted),
      "shards are in key order — no shuffle happened")
    // new seed = new permutation
    Sinks.exportShuffled(docs, s"$dir/s3", "doc_id", nShards, seed = 43L)
    assert(slurp(s"$dir/s3") != s1, "the seed does not change the permutation")
    // md5 balance: no empty shard, no shard hoarding the corpus
    val sizes = s1.map(_.size)
    assert(sizes.min > 0 && sizes.max <= 4 * sizes.min,
      s"badly balanced shards: $sizes")
  }

  test("compacted write bounds file sizes and the file count") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_sinkc").toString
    val events = Tables(spark, sfTest, "events") // 1 000 rows at sf0.001
    // 4 target files of ≤ 300 rows each: the roll-at-limit and the
    // repartition coalesce must both be visible in the layout
    Sinks.writeCompacted(events, s"$dir/ev", 300L, Some(4))
    val files = new java.io.File(s"$dir/ev").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.length >= 4, s"expected >=4 files, got ${files.length}")
    val back = spark.read.parquet(s"$dir/ev")
    assert(back.count() == events.count())
    // no file holds more than maxRecordsPerFile rows
    files.foreach { f =>
      assert(spark.read.parquet(f.getAbsolutePath).count() <= 300L,
        s"${f.getName} exceeds maxRecordsPerFile")
    }
  }

  test("curate's observe metrics match the written corpus with no " +
    "extra job") {
    import spark.implicits._
    import graft.operators.Retention
    val dir = Files.createTempDirectory("graft_obs").toString
    val out = s"$dir/documents.parquet"
    val (_, obs) = Retention.curateObserved(spark, sfTest, out,
      maxRecordsPerFile = 100L)
    val m = obs.get
    // metrics accumulated DURING the write must equal what landed on disk
    val back = spark.read.parquet(out).cache()
    assert(m("n_written") == back.count())
    assert(m("chars_written") ==
      back.agg(org.apache.spark.sql.functions.sum($"n_chars"))
        .head().getLong(0))
    assert(m("min_doc_id") ==
      back.agg(org.apache.spark.sql.functions.min($"doc_id"))
        .head().getLong(0))
    back.unpersist()
  }

  test("retention pipeline materializes the gated deduped corpus compacted") {
    import spark.implicits._
    import graft.operators.{DedupOps, Retention, TextOps}
    val dir = Files.createTempDirectory("graft_curated").toString
    val out = s"$dir/documents.parquet"
    Retention.curate(spark, sfTest, out, maxRecordsPerFile = 100L)
    val back = spark.read.parquet(out)
    val ids = back.select($"doc_id").as[Long].collect().toSet
    // funnel arithmetic: survivors = admitted − per-cluster re-elected
    // drop list (canonical = min ADMITTED member, so a family whose
    // global canonical failed the gate still keeps one copy)
    val admitted = TextOps.admittedDocs(spark, sfTest)
      .as[Long].collect().toSet
    val clusters = DedupOps.dedupClusters(spark, sfTest)
      .select($"cluster_id", $"doc_id").as[(Long, Long)].collect()
    val byCluster = clusters.groupBy(_._1)
      .view.mapValues(_.map(_._2).filter(admitted).sorted).toMap
    val drops = byCluster.values.flatMap(_.drop(1)).toSet
    assert(ids == (admitted -- drops) && ids.nonEmpty)
    // re-election property: every cluster with >=1 admitted member keeps
    // EXACTLY one (its min admitted id); all-inadmissible clusters keep 0
    byCluster.foreach { case (c, adm) =>
      val kept = adm.filter(ids)
      assert(kept.toSeq == adm.take(1).toSeq,
        s"cluster $c kept $kept, expected ${adm.take(1).toSeq}")
    }
    // layout: the compaction budget holds per output file
    val perFile = back.groupBy(input_file_name()).count()
      .as[(String, Long)].collect()
    assert(perFile.nonEmpty && perFile.forall(_._2 <= 100L),
      s"file over the row budget: ${perFile.maxBy(_._2)}")
    // full rows survive, not just ids (schema intact for the tokenizer)
    assert(back.columns.toSeq ==
      Tables(spark, sfTest, "documents").columns.toSeq)
  }

  test("curate re-elects the canonical when the global one fails the gate") {
    import spark.implicits._
    import graft.operators.Retention
    // doc 1 (global canonical of the {1,2} near-dup family) fails the
    // admission gate (28 tokens < 30); doc 2 — same text plus a tail,
    // 3-gram Jaccard 26/31 ≈ 0.84 — passes. The old min-id policy lost
    // the whole family (1 gated out, 2 dropped as non-canonical); the
    // re-elected policy keeps 2. Family {4,5} has BOTH admitted, so the
    // plain min rule applies there: 4 kept, 5 dropped. 3 is a singleton.
    val base = (1 to 28).map(i => s"x$i").mkString(" ")
    val dir = Files.createTempDirectory("graft_reelect").toString
    Seq(
      (1L, base, "en", "s0", 0L),
      (2L, base + " " + (1 to 5).map(i => s"y$i").mkString(" "), "en", "s0", 0L),
      (3L, (1 to 40).map(i => s"z$i").mkString(" "), "en", "s0", 0L),
      (4L, (1 to 35).map(i => s"p$i").mkString(" "), "en", "s0", 0L),
      (5L, (1 to 35).map(i => s"p$i").mkString(" ") + " q1 q2 q3", "en", "s0", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = s"$dir/curated"
    Retention.curate(spark, dir, out, maxRecordsPerFile = 100L)
    val kept = spark.read.parquet(out).select($"doc_id")
      .as[Long].collect().toSet
    assert(kept == Set(2L, 3L, 4L), s"curated $kept")
  }

  test("z-ordered layout gives every file a small (a,b) rectangle") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_zorder").toString
    val events = Tables(spark, sfTest, "events")
      .select($"event_id", $"user_id", $"value")
    Sinks.writeZOrdered(events, s"$dir/z", "user_id", "value",
      bits = 8, targetFiles = 16, maxRecordsPerFile = 1L << 20)
    Sinks.writeCompacted(events, s"$dir/flat", 1L << 20, Some(16))
    // lossless roundtrip first
    assert(spark.read.parquet(s"$dir/z").count() == events.count())
    // min/max pruning works iff each file covers a small rectangle of
    // (user_id, value) space; round-robin files each span ~everything
    def rects(path: String): Array[(Double, Double, Double, Double)] =
      spark.read.parquet(path)
        .groupBy(input_file_name())
        .agg(min($"user_id").cast("double"), max($"user_id").cast("double"),
          min($"value"), max($"value"))
        .collect()
        .map(r => (r.getDouble(1), r.getDouble(2), r.getDouble(3),
          r.getDouble(4)))
    val all = rects(s"$dir/flat")
    val loA = all.map(_._1).min; val hiA = all.map(_._2).max
    val loB = all.map(_._3).min; val hiB = all.map(_._4).max
    def areaSum(rs: Array[(Double, Double, Double, Double)]): Double =
      rs.map { case (a0, a1, b0, b1) =>
        ((a1 - a0) / (hiA - loA)) * ((b1 - b0) / (hiB - loB))
      }.sum
    val zs = rects(s"$dir/z")
    assert(zs.length >= 8, s"expected >=8 z files, got ${zs.length}")
    val (zArea, flatArea) = (areaSum(zs), areaSum(all))
    assert(zArea * 2 < flatArea,
      f"z-order rectangles not tighter: z=$zArea%.2f flat=$flatArea%.2f")
    // the skipping this buys: a point predicate on EITHER column now
    // matches only the files whose min/max straddle it
    val midA = (loA + hiA) / 2; val midB = (loB + hiB) / 2
    assert(zs.count(r => r._1 <= midA && midA <= r._2) < zs.length)
    assert(zs.count(r => r._3 <= midB && midB <= r._4) < zs.length)
  }

  test("bucketed tables join without any shuffle exchange") {
    import org.apache.spark.sql.functions.col
    // separate session: conf changes here must not leak into the shared
    // spec session (broadcast is disabled to force the join the bucketing
    // claim is about)
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val wh = Files.createTempDirectory("graft_buckets").toString
    try {
      Tables(spark, sfTest, "orders")
        .write.format("parquet").bucketBy(4, "o_custkey")
        .option("path", s"$wh/orders_b").mode("overwrite")
        .saveAsTable("graft_orders_b")
      Tables(spark, sfTest, "customer")
        .write.format("parquet").bucketBy(4, "c_custkey")
        .option("path", s"$wh/customer_b").mode("overwrite")
        .saveAsTable("graft_customer_b")
      val j = s2.table("graft_orders_b")
        .join(s2.table("graft_customer_b"),
          col("o_custkey") === col("c_custkey"))
      val plan = j.queryExecution.executedPlan.toString
      // both sides are hash-bucketed on the join key at the same width, so
      // the sort-merge join consumes the on-disk layout directly — THE
      // co-located-join seam SCALE.md describes for repeated fact joins
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange"),
        s"bucketed join must not re-shuffle either side:\n$plan")
      val expected = Tables(spark, sfTest, "orders")
        .join(Tables(spark, sfTest, "customer"),
          col("o_custkey") === col("c_custkey")).count()
      assert(j.count() == expected && expected > 0)
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_orders_b")
      spark.sql("DROP TABLE IF EXISTS graft_customer_b")
    }
  }

  test("streaming parquet sink appends exactly the arriving rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_ssink").toString
    val ms = MemoryStream[Event]
    val q = Sinks.streamToParquet(
      ms.toDF(), s"$dir/out", s"$dir/ckpt")
    ms.addData((1 to 20).map(i => Event(i,
      java.sql.Timestamp.valueOf(f"2024-01-01 10:00:${i % 60}%02d"),
      i % 3, "click", i.toDouble, "{}")))
    q.processAllAvailable()
    q.stop()
    val back = spark.read.parquet(s"$dir/out")
    assert(back.count() == 20)
    assert(back.select(sum($"value")).head().getDouble(0) == 210.0)
  }

  test("foreachBatch sink sees every micro-batch with its id") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_fsink").toString
    val seen = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    val ms = MemoryStream[Event]
    val q = Sinks.streamForeachBatch(ms.toDF(), s"$dir/ckpt") {
      (batch, id) => seen.put(id, batch.count())
    }
    ms.addData(Seq(Event(1, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"),
      1, "click", 1.0, "{}")))
    q.processAllAvailable()
    ms.addData((2 to 4).map(i => Event(i,
      java.sql.Timestamp.valueOf("2024-01-01 10:01:00"), 1, "view",
      i.toDouble, "{}")))
    q.processAllAvailable()
    q.stop()
    var total = 0L
    seen.values().forEach(v => total += v)
    assert(total == 4, s"foreachBatch saw $seen")
  }

  test("bucketed tables co-locate the join and the aggregate: zero " +
    "exchanges where the parquet twin pays two") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_bucket").toString
    val events = Tables(spark, sfTest, "events").select($"user_id", $"value")
    val cust = Tables(spark, sfTest, "customer")
      .select($"c_custkey".as("user_id"), $"c_mktsegment")
    Sinks.writeBucketed(events, "b_events_t", "user_id", buckets = 8,
      path = Some(s"$dir/ev"))
    Sinks.writeBucketed(cust, "b_cust_t", "user_id", buckets = 8,
      path = Some(s"$dir/cust"))
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // force the shuffle-join regime (the regime bucketing exists for:
    // a dim side too big to broadcast)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("b_events_t")
        .join(spark.table("b_cust_t"), "user_id")
      val jp = joined.queryExecution.executedPlan.toString
      assert(!jp.contains("Exchange"),
        s"bucketed join still shuffles:\n$jp")
      assert(jp.contains("SortMergeJoin"), s"expected SMJ:\n$jp")
      // same join over the raw parquet: both sides exchange
      val raw = events.join(cust, "user_id")
      assert("Exchange hashpartitioning".r.findAllIn(
        raw.queryExecution.executedPlan.toString).size == 2)
      // row-identical to the unbucketed join
      assert(joined.count() == raw.count())
      // keyed aggregate rides the bucket layout too — no exchange
      val agg = spark.table("b_events_t").groupBy($"user_id")
        .agg(count(lit(1)).as("n"))
      assert(!agg.queryExecution.executedPlan.toString.contains("Exchange"),
        "bucketed aggregate still shuffles")
      assert(agg.count() == events.select($"user_id").distinct().count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      spark.sql("DROP TABLE IF EXISTS b_events_t")
      spark.sql("DROP TABLE IF EXISTS b_cust_t")
    }
  }

  test("outbound delivery: N rows → N POSTs, committed replay delivers " +
    "zero, new batch delivers again") {
    import spark.implicits._
    import graft.sources.WebhookQueue
    val port = WebhookQueue.startServer(0)
    WebhookQueue.clear()
    val dir = Files.createTempDirectory("graft_deliver").toString
    val ledger = s"$dir/ledger"
    val rows = Tables(spark, sfTest, "events")
      .orderBy($"event_id").limit(5)
    val endpoint = s"http://localhost:$port/webhook/out"
    val before = WebhookQueue.latest
    val (ok, dead) = WebhookDelivery.deliverBatch(rows, 1L, endpoint,
      "event_id", ledger)
    assert((ok, dead) == ((5L, 0L)))
    assert(WebhookQueue.latest == before + 5, "expected 5 queue entries")
    // payloads are the row JSON
    val bodies = WebhookQueue.slice(before, before + 5).map(_._4)
    assert(bodies.forall(b => b.contains("\"event_id\"") &&
      b.contains("\"event_type\"")))
    // replay of the COMMITTED batch: the ledger anti-join stops every
    // key before any HTTP happens — exactly-once per (batch, row)
    val (ok2, dead2) = WebhookDelivery.deliverBatch(rows, 1L, endpoint,
      "event_id", ledger)
    assert((ok2, dead2) == ((0L, 0L)))
    assert(WebhookQueue.latest == before + 5, "replay re-delivered")
    // same rows under a NEW batch id are a different delivery
    val (ok3, _) = WebhookDelivery.deliverBatch(rows, 2L, endpoint,
      "event_id", ledger)
    assert(ok3 == 5L)
    assert(WebhookQueue.latest == before + 10)
    assert(WebhookDelivery.ledger(spark, ledger).count() == 10)
    assert(WebhookDelivery.deadLetters(spark, ledger).count() == 0)
    WebhookQueue.clear()
  }

  test("empty batches settle as a no-op and never wedge the ledger") {
    import spark.implicits._
    import graft.sources.WebhookQueue
    val port = WebhookQueue.startServer(0)
    WebhookQueue.clear()
    val dir = Files.createTempDirectory("graft_deliver_empty").toString
    val ledger = s"$dir/ledger"
    val endpoint = s"http://localhost:$port/webhook/out"
    // an EMPTY micro-batch settles FIRST: it leaves a ledger root with no
    // data files (only _SUCCESS), on which a schema-inferring read threw
    // "unable to infer schema" and wedged the stream
    val empty = Tables(spark, sfTest, "events").limit(0)
    assert(WebhookDelivery.deliverBatch(empty, 1L, endpoint, "event_id",
      ledger) == ((0L, 0L)))
    assert(!new java.io.File(s"$ledger/batch_id=1").exists,
      "an empty batch wrote a batch directory for the replay guard to read")
    val before = WebhookQueue.latest
    val rows = Tables(spark, sfTest, "events").orderBy($"event_id").limit(3)
    assert(WebhookDelivery.deliverBatch(rows, 2L, endpoint, "event_id",
      ledger) == ((3L, 0L)))
    assert(WebhookQueue.latest == before + 3)
    // and the explicit-schema ledger read works on the settled state
    assert(WebhookDelivery.ledger(spark, ledger).count() == 3)
    WebhookQueue.clear()
  }

  test("a new delivery batch settles in one Spark job and compiles no " +
    "new classes") {
    import spark.implicits._
    import graft.sources.WebhookQueue
    val port = WebhookQueue.startServer(0)
    WebhookQueue.clear()
    val dir = Files.createTempDirectory("graft_deliver_cost").toString
    val ledger = s"$dir/ledger"
    val endpoint = s"http://localhost:$port/webhook/out"
    // an RDD-backed input, like a micro-batch: a local relation would let
    // the optimizer fold the projections away and answer an emptiness
    // check without a job, hiding both costs this spec counts
    val rows = spark.sparkContext
      .parallelize(Seq((1L, "view", 1.0), (2L, "click", 2.0),
        (3L, "view", 3.0)), 2)
      .toDF("event_id", "event_type", "value")
    // the first batch compiles the plan's classes and creates the ledger
    assert(WebhookDelivery.deliverBatch(rows, 1L, endpoint, "event_id",
      ledger) == ((3L, 0L)))
    val before = WebhookQueue.latest
    val (jobs, compiles) = costOf {
      assert(WebhookDelivery.deliverBatch(rows, 2L, endpoint, "event_id",
        ledger) == ((3L, 0L)))
    }
    assert(WebhookQueue.latest == before + 3)
    // the ledger write carries the POSTs; the replay guard of a batch
    // with no ledger directory yet reads nothing
    assert(jobs == 1, s"a new delivery batch ran $jobs Spark jobs")
    assert(compiles == 0, s"a new delivery batch compiled $compiles classes")
    WebhookQueue.clear()
  }

  test("a new lake batch applies in one Spark job and compiles no new " +
    "classes") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_lake_cost").toString
    // RDD-backed, like a micro-batch (see the delivery spec above)
    val df = spark.sparkContext
      .parallelize(Seq((1L, "2024-01-01"), (2L, "2024-01-02")), 2)
      .toDF("id", "d").withColumn("date", to_date($"d")).drop("d")
    LakeSink.applyBatch(df, 1L, dir, "date")
    val (jobs, compiles) = costOf(LakeSink.applyBatch(df, 2L, dir, "date"))
    assert(jobs == 1, s"a new lake batch ran $jobs Spark jobs")
    assert(compiles == 0, s"a new lake batch compiled $compiles classes")
    // the batch_id=N layout and the integral type read back from it
    assert(new java.io.File(s"$dir/open/date=2024-01-02/batch_id=2")
      .isDirectory)
    val open = spark.read.parquet(s"$dir/open")
    assert(Seq(org.apache.spark.sql.types.IntegerType,
      org.apache.spark.sql.types.LongType)
      .contains(open.schema("batch_id").dataType))
    assert(open.select($"id", $"batch_id".cast("long")).as[(Long, Long)]
      .collect().sorted.toSeq == Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L)))
    assert(LakeSink.read(spark, dir, "date").count() == 4)
  }

  test("the replay guard reads only the replayed batch's own ledger " +
    "directory: other batches never suppress a delivery") {
    import spark.implicits._
    import graft.sources.WebhookQueue
    val port = WebhookQueue.startServer(0)
    WebhookQueue.clear()
    val dir = Files.createTempDirectory("graft_deliver_guard").toString
    val ledger = s"$dir/ledger"
    val endpoint = s"http://localhost:$port/webhook/out"
    def rows(ids: Long*) = ids.map(i => (i, "view", i.toDouble))
      .toDF("event_id", "event_type", "value")
    def deliver(batch: Long, ids: Long*): (Long, Long) =
      WebhookDelivery.deliverBatch(rows(ids: _*), batch, endpoint,
        "event_id", ledger)
    assert(deliver(1L, 1L, 2L, 3L) == ((3L, 0L)))
    assert(deliver(2L, 1L, 2L, 3L) == ((3L, 0L)))
    // a new batch over keys the ledger holds under OTHER batches: every
    // row is a delivery of its own
    val before = WebhookQueue.latest
    assert(deliver(3L, 1L, 2L, 3L, 4L, 5L) == ((5L, 0L)))
    assert(WebhookQueue.latest == before + 5)
    // a replay of batch 2 that carries one more key posts only that key
    assert(deliver(2L, 1L, 2L, 3L, 4L) == ((1L, 0L)))
    assert(WebhookQueue.latest == before + 6)
    val byBatch = WebhookDelivery.ledger(spark, ledger)
      .groupBy("batch_id").count().as[(Long, Long)].collect().toMap
    assert(byBatch == Map(1L -> 3L, 2L -> 4L, 3L -> 5L))
    WebhookQueue.clear()
  }

  test("streaming delivery: every micro-batch posts once across restarts") {
    import spark.implicits._
    import graft.sources.WebhookQueue
    implicit val sqlCtx = spark.sqlContext
    val port = WebhookQueue.startServer(0)
    WebhookQueue.clear()
    val dir = Files.createTempDirectory("graft_sdeliver").toString
    val endpoint = s"http://localhost:$port/webhook/out"
    val before = WebhookQueue.latest
    val ms = MemoryStream[Event]
    def start() = WebhookDelivery.streamDeliver(
      ms.toDF(), endpoint, "event_id", s"$dir/ledger", s"$dir/ckpt")
    val q = start()
    ms.addData(Seq(ev(1, "2024-01-01 10:00:00", 1, "view", 1.0),
      ev(2, "2024-01-01 10:01:00", 1, "click", 2.0)))
    q.processAllAvailable()
    ms.addData(Seq(ev(3, "2024-01-01 10:02:00", 2, "view", 3.0)))
    q.processAllAvailable()
    q.stop()
    assert(WebhookQueue.latest == before + 3, "3 rows → 3 deliveries")
    // restart from the checkpoint: committed batches must not re-deliver
    val q2 = start()
    q2.processAllAvailable()
    ms.addData(Seq(ev(4, "2024-01-01 10:03:00", 2, "purchase", 4.0)))
    q2.processAllAvailable()
    q2.stop()
    assert(WebhookQueue.latest == before + 4,
      "restart re-delivered committed batches")
    WebhookQueue.clear()
  }

  test("outbound delivery retries a failing endpoint with backoff, then " +
    "dead-letters the incurable rows") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_deliver_dead").toString
    // spec-local endpoint: /flaky 500s the first 2 attempts of each
    // delivery key then accepts; /dead always 500s
    val attempts =
      new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    var totalDead = new java.util.concurrent.atomic.AtomicInteger(0)
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress(0), 0)
    server.createContext("/flaky", (x: com.sun.net.httpserver.HttpExchange) => {
      val key = x.getRequestHeaders.getFirst("X-Delivery-Key")
      val n = attempts.merge(key, 1, (a, b) => a + b)
      x.sendResponseHeaders(if (n <= 2) 500 else 200, -1)
      x.close()
    })
    server.createContext("/dead", (x: com.sun.net.httpserver.HttpExchange) => {
      totalDead.incrementAndGet()
      x.sendResponseHeaders(500, -1)
      x.close()
    })
    server.start()
    try {
      val p = server.getAddress.getPort
      val rows = Tables(spark, sfTest, "events")
        .orderBy($"event_id").limit(3)
      // 3 attempts: enough to ride out the flaky endpoint's 2 failures
      val (ok, dead) = WebhookDelivery.deliverBatch(rows, 7L,
        s"http://localhost:$p/flaky", "event_id", s"$dir/flaky",
        maxAttempts = 3, baseBackoffMs = 1L)
      assert((ok, dead) == ((3L, 0L)), "retries must ride out 2 failures")
      assert(attempts.values().stream().allMatch(_ == 3),
        s"each key must take exactly 3 attempts: $attempts")
      // 2 attempts against a permanently failing endpoint: dead-letter
      val (ok2, dead2) = WebhookDelivery.deliverBatch(rows, 8L,
        s"http://localhost:$p/dead", "event_id", s"$dir/dead",
        maxAttempts = 2, baseBackoffMs = 1L)
      assert((ok2, dead2) == ((0L, 3L)))
      assert(totalDead.get() == 6, "2 bounded attempts per row, no more")
      val dl = WebhookDelivery.deadLetters(spark, s"$dir/dead").collect()
      assert(dl.length == 3)
      dl.foreach { r =>
        assert(r.getAs[Int]("attempts") == 2)
        assert(r.getAs[String]("error").contains("http 500"))
        // the raw payload survives for triage / targeted redelivery
        assert(r.getAs[String]("body").contains("\"event_id\""))
      }
      // dead-lettered keys are SETTLED: a replay of the batch must not
      // hammer the sick endpoint again
      val beforeRetry = totalDead.get()
      val (ok3, dead3) = WebhookDelivery.deliverBatch(rows, 8L,
        s"http://localhost:$p/dead", "event_id", s"$dir/dead",
        maxAttempts = 2, baseBackoffMs = 1L)
      assert((ok3, dead3) == ((0L, 0L)))
      assert(totalDead.get() == beforeRetry, "replay re-attempted dead keys")
      // endpoint heals → targeted redelivery of the stored payloads lands
      // them under a fresh batch id; the original dead rows stay as
      // history; a second redelivery run is itself replay-safe
      val healed = new java.util.concurrent.atomic.AtomicInteger(0)
      val bodies = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      server.createContext("/healed", (x: com.sun.net.httpserver.HttpExchange) => {
        healed.incrementAndGet()
        bodies.add(new String(x.getRequestBody.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8))
        x.sendResponseHeaders(200, -1)
        x.close()
      })
      val (rOk, rDead) = WebhookDelivery.redeliver(spark, s"$dir/dead",
        s"http://localhost:$p/healed", redeliveryBatch = 100L,
        baseBackoffMs = 1L)
      assert((rOk, rDead) == ((3L, 0L)))
      assert(healed.get() == 3)
      // the redelivered body is the ORIGINAL payload JSON, verbatim
      import scala.jdk.CollectionConverters._
      assert(bodies.asScala.forall(_.contains("\"event_id\"")))
      // history preserved: 3 original dead + 3 redelivered rows
      val led = WebhookDelivery.ledger(spark, s"$dir/dead")
      assert(led.filter(col("status") === "dead").count() == 3)
      assert(led.filter(col("status") === "delivered"
        && col("batch_id") === 100L).count() == 3)
      val (rOk2, rDead2) = WebhookDelivery.redeliver(spark, s"$dir/dead",
        s"http://localhost:$p/healed", redeliveryBatch = 100L,
        baseBackoffMs = 1L)
      assert((rOk2, rDead2) == ((0L, 0L)) && healed.get() == 3,
        "re-running the same redelivery batch must deliver nothing")
    } finally server.stop(0)
  }

  test("circuit breaker trips on a dead endpoint and fast-dead-letters the " +
    "remainder without burning the backoff ladder per row") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_breaker").toString
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress(0), 0)
    server.createContext("/dead", (x: com.sun.net.httpserver.HttpExchange) => {
      hits.incrementAndGet()
      x.sendResponseHeaders(500, -1)
      x.close()
    })
    server.start()
    try {
      val endpoint = s"http://localhost:${server.getAddress.getPort}/dead"
      WebhookDelivery.resetBreaker()
      // one partition → deterministic row order through the breaker
      val rows = Tables(spark, sfTest, "events")
        .orderBy($"event_id").limit(20).repartition(1)
      val (ok, dead) = WebhookDelivery.deliverBatch(rows, 1L, endpoint,
        "event_id", s"$dir/ledger", maxAttempts = 3, baseBackoffMs = 1L,
        tripAfter = 4, cooldownMs = 600000L)
      assert((ok, dead) == ((0L, 20L)))
      // row 1 burns its full ladder (3 attempts), row 2's first attempt
      // is the 4th consecutive failure and trips the breaker mid-ladder;
      // rows 3..20 never reach HTTP at all
      assert(hits.get() == 4,
        s"expected 4 HTTP attempts before the trip, saw ${hits.get()}")
      val dl = WebhookDelivery.deadLetters(spark, s"$dir/ledger").collect()
      assert(dl.length == 20)
      assert(dl.count(_.getAs[String]("error") == "circuit_open") == 19,
        "rows behind the trip must settle as circuit_open")
      assert(dl.count(_.getAs[Int]("attempts") == 0) == 18,
        "open-circuit rows must not attempt delivery")
      // every fast-failed payload is intact for redeliver
      assert(dl.forall(_.getAs[String]("body").contains("\"event_id\"")))
    } finally { server.stop(0); WebhookDelivery.resetBreaker() }
  }

  test("circuit breaker recovers through a half-open probe once the " +
    "endpoint heals") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_halfopen").toString
    val sick = new java.util.concurrent.atomic.AtomicBoolean(true)
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress(0), 0)
    server.createContext("/ep", (x: com.sun.net.httpserver.HttpExchange) => {
      hits.incrementAndGet()
      x.sendResponseHeaders(if (sick.get()) 500 else 200, -1)
      x.close()
    })
    server.start()
    try {
      val endpoint = s"http://localhost:${server.getAddress.getPort}/ep"
      WebhookDelivery.resetBreaker()
      val rows = Tables(spark, sfTest, "events")
        .orderBy($"event_id").limit(4).repartition(1)
      val (ok1, dead1) = WebhookDelivery.deliverBatch(rows, 1L, endpoint,
        "event_id", s"$dir/ledger", maxAttempts = 2, baseBackoffMs = 1L,
        tripAfter = 2, cooldownMs = 150L)
      assert((ok1, dead1) == ((0L, 4L)) && hits.get() == 2,
        s"trip after 2 attempts, saw ${hits.get()}")
      // endpoint heals; after the cooldown ONE probe reopens the path
      // and the rest of the batch flows normally
      sick.set(false)
      Thread.sleep(300L)
      val (ok2, dead2) = WebhookDelivery.deliverBatch(rows, 2L, endpoint,
        "event_id", s"$dir/ledger", maxAttempts = 2, baseBackoffMs = 1L,
        tripAfter = 2, cooldownMs = 150L)
      assert((ok2, dead2) == ((4L, 0L)), "healed endpoint must deliver")
      // the dead-lettered first batch recovers via the operator verb
      val (rOk, rDead) = WebhookDelivery.redeliver(spark, s"$dir/ledger",
        endpoint, redeliveryBatch = 100L, baseBackoffMs = 1L)
      assert((rOk, rDead) == ((4L, 0L)))
    } finally { server.stop(0); WebhookDelivery.resetBreaker() }
  }

  test("maxInFlight caps concurrent POSTs to an endpoint across tasks") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_inflight").toString
    val inFlight = new java.util.concurrent.atomic.AtomicInteger(0)
    val maxSeen = new java.util.concurrent.atomic.AtomicInteger(0)
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress(0), 0)
    // a real thread pool: the default single-thread executor would
    // serialize handling and hide any client-side concurrency
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(16))
    server.createContext("/slow", (x: com.sun.net.httpserver.HttpExchange) => {
      val now = inFlight.incrementAndGet()
      maxSeen.accumulateAndGet(now, (a: Int, b: Int) => math.max(a, b))
      Thread.sleep(50L)
      inFlight.decrementAndGet()
      x.sendResponseHeaders(200, -1)
      x.close()
    })
    server.start()
    try {
      val endpoint = s"http://localhost:${server.getAddress.getPort}/slow"
      WebhookDelivery.resetBreaker()
      val rows = Tables(spark, sfTest, "events")
        .orderBy($"event_id").limit(16).repartition(8)
      val (ok, dead) = WebhookDelivery.deliverBatch(rows, 1L, endpoint,
        "event_id", s"$dir/ledger", maxInFlight = 2)
      assert((ok, dead) == ((16L, 0L)))
      assert(maxSeen.get() <= 2,
        s"8 tasks × slow endpoint must hold ≤2 in flight, saw ${maxSeen.get()}")
    } finally { server.stop(0); WebhookDelivery.resetBreaker() }
  }

  test("streaming admission gate: clean rows land in the lake, rejects " +
    "dead-letter with their violations") {
    import spark.implicits._
    import graft.operators.Quality
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_sgate").toString
    val rules = Seq(Quality.InRange("value", 0.0, 100.0),
      Quality.Accepted("event_type", Seq("view", "click", "purchase")))
    val ms = MemoryStream[Event]
    val q = Sinks.streamForeachBatch(ms.toDF(), s"$dir/ckpt") { (b, _) =>
      val (clean, rejects) = Quality.split(b, rules)
      clean.write.mode("append").parquet(s"$dir/clean")
      rejects.withColumn("violations",
          concat_ws(";", col("violations")))
        .write.mode("append").parquet(s"$dir/dead")
    }
    ms.addData(Seq(
      ev(1, "2024-01-01 10:00:00", 1, "view", 5.0),
      ev(2, "2024-01-01 10:01:00", 1, "bogus", 5.0),
      ev(3, "2024-01-01 10:02:00", 2, "click", -1.0),
      ev(4, "2024-01-01 10:03:00", 2, "purchase", 50.0)))
    q.processAllAvailable()
    q.stop()
    assert(spark.read.parquet(s"$dir/clean").select($"event_id")
      .as[Long].collect().sorted.toSeq == Seq(1L, 4L))
    val dead = spark.read.parquet(s"$dir/dead")
      .select($"event_id", $"violations").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(dead(2L) == "accepted_values(event_type)")
    assert(dead(3L) == "in_range(value)")
  }

  test("JSON-lines archive roundtrips events and flags damaged lines") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_arch").toString
    val events = graft.Tables(spark, sfTest, "events")
    graft.sources.Archive.writeEvents(events, s"$dir/events")
    // cache: Spark disallows querying only the corrupt column off a raw
    // JSON scan (QUERY_ONLY_CORRUPT_RECORD_COLUMN)
    val back = graft.sources.Archive.readEvents(spark, s"$dir/events").cache()
    assert(back.filter(col("_corrupt").isNotNull).count() == 0)
    val a = events.select("event_id", "ts", "user_id", "event_type", "value", "props")
      .collect().map(_.toSeq).toSet
    val b = back.drop("_corrupt")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .collect().map(_.toSeq).toSet
    assert(a == b, "archive roundtrip must be lossless")
    back.unpersist(true) // a fresh read below must not hit this cache entry
    // drop a damaged line into the archive dir (a fresh file — appending
    // to an existing part would trip its Hadoop .crc sidecar instead of
    // the JSON parser): it must surface, not kill the read or disappear
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/events/part-damaged.json"),
      "{not json\n")
    val damaged =
      graft.sources.Archive.readEvents(spark, s"$dir/events").cache()
    assert(damaged.filter(col("_corrupt").isNotNull).count() == 1)
    assert(damaged.filter(col("_corrupt").isNull).count() == a.size)
    damaged.unpersist(true)
  }

  test("CSV archive roundtrips events and dead-letters malformed rows") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_csv").toString
    val events = graft.Tables(spark, sfTest, "events")
    graft.sources.Archive.writeEventsCsv(events, s"$dir/events")
    val back = graft.sources.Archive
      .readEventsCsv(spark, s"$dir/events").cache()
    val (clean, dead) = graft.sources.Archive.malformed(back)
    assert(dead.count() == 0)
    val a = events
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .collect().map(_.toSeq).toSet
    val b = clean
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .collect().map(_.toSeq).toSet
    assert(a == b, "CSV roundtrip must be lossless incl. µs timestamps")
    back.unpersist(true)
    // wrong arity + unparseable long: both must dead-letter with the raw
    // line preserved, not kill the read or silently vanish.
    // Deliberately UNCACHED from here: the natural production path is
    // readEventsCsv → malformed → write the dead-letter table, and Spark
    // forbids raw-scan queries that reference ONLY the corrupt column —
    // malformed's full-row dead-letter half must keep this path legal
    // without a mandatory cache step.
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/events/part-damaged.csv"),
      "1,2\nnot-a-long,2024-01-01T00:00:00.000000Z,7,click,1.0,{}\n")
    val again = graft.sources.Archive.readEventsCsv(spark, s"$dir/events")
    val (clean2, dead2) = graft.sources.Archive.malformed(again)
    dead2.write.mode("overwrite").parquet(s"$dir/dead")
    val deadBack = spark.read.parquet(s"$dir/dead")
    assert(deadBack.count() == 2, "both damaged lines must dead-letter")
    assert(deadBack.collect().map(_.getAs[String]("_corrupt"))
      .exists(_.startsWith("1,2")), "raw line must survive in _corrupt")
    // the partially-parsed cells ride along for triage
    assert(deadBack.columns.contains("event_type"))
    // clean half, still uncached: a bare count() would prune every data
    // column and trip the same raw-scan restriction (the documented
    // residual caveat in malformed's scaladoc) — collect keeps the full
    // projection and is the row-consuming shape a real reader has
    assert(clean2.collect().length == a.size)
  }
}
