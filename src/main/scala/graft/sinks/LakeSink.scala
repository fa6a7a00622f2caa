package graft.sinks

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming → maintainable-lake composition: an EXACTLY-ONCE-effective
  * date-partitioned parquet lake fed by a streaming query, built from
  * the maintenance verbs this package already carries.
  *
  * The problem it solves: `Sinks.streamToParquet` (the file sink) is
  * exactly-once but its `_spark_metadata` log pins the file list — none
  * of the maintenance verbs (compaction, TTL, erasure, merge) may touch
  * it. A plain `foreachBatch` append is maintainable but replays batches
  * after a crash — at-least-once, duplicate rows. This sink closes the
  * gap with the standard idempotent-overwrite trick: every micro-batch
  * writes under `date=D/batch_id=N` via DYNAMIC partition overwrite, so
  * a replayed batch N REPLACES exactly its own (date, batch) cells and
  * converges instead of duplicating. Layout:
  *
  *   path/open/   date=D/batch_id=N/part-*.parquet   (live, appended)
  *   path/sealed/ date=D/part-*.parquet              (closed, compacted)
  *
  * [[sealDays]] moves a CLOSED day (event-time watermark passed it —
  * nothing appends there again) from open to sealed: one compacted
  * rewrite that drops the batch_id level — the per-batch dirs are
  * scaffolding for idempotence, not something a reader should pay
  * per-file open cost for forever. The two roots exist because hive
  * partition discovery rejects mixed directory depths under one root;
  * open/sealed is the bronze/compacted split a real lake runs anyway.
  *
  * [[read]] is the one-table view: sealed ∪ open, sealed winning for
  * any day present in both — which makes the seal protocol
  * crash-tolerant without a transaction: sealing publishes to sealed/
  * FIRST, then deletes from open/, and a crash between the two leaves a
  * day double-stored but never double-READ, and the next [[sealDays]]
  * call completes the cleanup. Readers prune on the date partition in
  * both roots (PartitionFilters), so the open-side exclusion filter
  * costs directory skips, not data.
  *
  * At 100 TB: each micro-batch shuffles only its own rows (dynamic
  * overwrite of the cells it carries); sealing reads one day once;
  * TTL = `Sinks.dropPartitions` on sealed/; erasure/merge verbs apply
  * to sealed/ unchanged. The batch_id dir count per open day is bounded
  * by batches-per-day, and sealing retires it daily.
  */
object LakeSink {

  /** Idempotent micro-batch apply (exposed for direct testing): stamp
    * the batch id, dynamic-overwrite the (date, batch) cells it carries.
    * The id is stamped as a string literal, which generated code takes
    * by reference, so every batch reuses the classes the first one
    * compiled (a Long literal is inlined into the Java source and
    * compiles anew per batch). The `batch_id=N` directory, and the type
    * a reader infers from it, are the same either way.
    */
  def applyBatch(df: DataFrame, batchId: Long, path: String,
                 dateCol: String): Unit =
    Sinks.overwritePartitions(
      df.withColumn("batch_id", lit(batchId.toString)), s"$path/open",
      dateCol, "batch_id")

  /** Start the streaming feed. `df` must carry `dateCol`. Stateless or
    * watermark-finalized input both work; aggregates should arrive in
    * append mode (finalized groups) — partials would re-state a cell
    * per update, converging but churning. */
  def start(df: DataFrame, path: String, checkpoint: String,
            dateCol: String): StreamingQuery =
    Sinks.streamForeachBatch(df, checkpoint, "append") { (b, id) =>
      applyBatch(b, id, path, dateCol)
    }

  /** Seal closed days: publish each day compacted (batch_id dropped) to
    * sealed/, then retire its open/ dir. Idempotent and crash-tolerant:
    * a day already sealed just gets its open/ leftover deleted; a crash
    * mid-call resumes on the next call. Caller picks the worklist (days
    * older than the watermark; [[openDays]] lists candidates) — seal
    * only days the watermark has CLOSED: open-side rows appended to an
    * already-sealed day are presumed the crash window's duplicates and
    * are discarded by the cleanup; genuinely very-late data for a
    * sealed day lands via `Sinks.mergePartitions`/`overwritePartitions`
    * on sealed/ instead. `manifestCols` non-empty additionally refreshes
    * the sealed root's file-stats manifest for each sealed day
    * ([[graft.sources.Manifest]]), at the cost of re-reading only the
    * day just sealed.
    */
  def sealDays(s: SparkSession, path: String, dateCol: String,
               values: Seq[String], targetFiles: Int = 1,
               maxRecordsPerFile: Long = 1L << 20,
               manifestCols: Seq[String] = Nil): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    values.foreach { v =>
      val open = new org.apache.hadoop.fs.Path(s"$path/open/$dateCol=$v")
      val sealedP = new org.apache.hadoop.fs.Path(s"$path/sealed/$dateCol=$v")
      val staging = new org.apache.hadoop.fs.Path(s"$path/sealed/.sealing_$v")
      if (!fs.exists(sealedP)) {
        require(fs.exists(open), s"no open day $dateCol=$v under $path")
        fs.delete(staging, true) // stale staging from a pre-publish crash
        s.read.parquet(open.toString) // batch_id inferred from subdirs
          .drop("batch_id")
          .repartition(targetFiles)
          .write.mode(SaveMode.Overwrite)
          .option("maxRecordsPerFile", maxRecordsPerFile)
          .parquet(staging.toString)
        if (!fs.rename(staging, sealedP))
          throw new java.io.IOException(s"cannot publish $staging")
      }
      fs.delete(open, true) // sealed exists: reads already ignore open
      // per-day manifest refresh: stats for the files just sealed, at
      // the cost of the data the seal already read — idempotent, so a
      // crash-repeated seal just re-states the same rows
      if (manifestCols.nonEmpty)
        graft.sources.Manifest.refreshPartition(
          s, s"$path/sealed", dateCol, v, manifestCols)
    }
  }

  /** Streaming CDC apply — a changelog stream (Debezium-style rows:
    * data + partition column + op column) applied to the archive per
    * micro-batch through [[Sinks.mergePartitions]]. Replay-safe without
    * a ledger: re-applying a batch re-upserts the same values and
    * re-deletes the same keys — the merge is idempotent per (partition,
    * key), so a crash-replayed batch CONVERGES instead of corrupting
    * (contrast an append sink, where replay duplicates). Per batch,
    * cost tracks the partitions the changeset touches, never the
    * archive — the property that makes continuous CDC into a 100 TB
    * lake feasible.
    */
  def streamApplyChanges(changes: DataFrame, path: String,
                         checkpoint: String, partitionCol: String,
                         keyCols: Seq[String],
                         opCol: Option[String] = None,
                         deleteOp: String = "delete"): StreamingQuery =
    Sinks.streamForeachBatch(changes, checkpoint, "append") { (b, _) =>
      if (!b.isEmpty)
        Sinks.mergePartitions(b.sparkSession, path, partitionCol, b,
          keyCols, opCol, deleteOp)
    }

  /** Streaming tail of the SEALED side — the downstream-consumer loop:
    * a job that retrains / reindexes / re-exports per closed day
    * subscribes here and receives each day's rows exactly when
    * [[sealDays]] publishes them (the staging→sealed rename lands a
    * day's files atomically, so the file source never sees a partial
    * day). Reading sealed-only is the point: open days still mutate
    * under batch replay, sealed days never do — the tail is replay-safe
    * by construction. Schema (incl. the partition column) is taken from
    * the sealed data already present; at least one sealed day must
    * exist (bootstrap the subscription after the first seal).
    */
  def tailSealed(s: SparkSession, path: String): DataFrame = {
    val sealedPath = s"$path/sealed"
    s.readStream
      .schema(s.read.parquet(sealedPath).schema)
      .option("basePath", sealedPath)
      .parquet(sealedPath)
  }

  /** Open-side day list (the seal worklist, before watermark filtering). */
  def openDays(s: SparkSession, path: String, dateCol: String): Seq[String] =
    Sinks.partitionFileCounts(s, s"$path/open", dateCol).map(_._1)

  /** Sealed-day exclusion lists, keyed by qualified sealed root and
    * invalidated by the root dir's modification time — [[sealDays]]
    * publishes/retires a day by renaming/deleting a child of sealed/,
    * which bumps the parent mtime, so a hot caller re-listing the lake
    * per dashboard query pays one `getFileStatus` instead of a
    * directory walk (the r8 verdict residual). Bounded: one entry per
    * lake root this JVM reads.
    */
  private val sealedDayCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Seq[String])]()

  /** Full sealed-root listings actually performed — observability for
    * the cache spec, not API.
    */
  private[sinks] val sealedListings =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** The one-table view: sealed ∪ open, sealed winning day-collisions
    * (see object doc), batch_id scaffolding hidden. The anti-filter is
    * an isin over the sealed DAY LIST (driver-side, bounded by days, the
    * same scale as any partition listing), which partition-prunes the
    * open scan. The day list is mtime-cached per lake root: repeated
    * `read` constructions re-list only after a seal actually changed the
    * sealed root.
    */
  def read(s: SparkSession, path: String, dateCol: String): DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    def side(p: String): Option[DataFrame] =
      if (fs.exists(new org.apache.hadoop.fs.Path(p)) &&
          fs.listStatus(new org.apache.hadoop.fs.Path(p))
            .exists(st => st.isDirectory &&
              st.getPath.getName.startsWith(s"$dateCol=")))
        Some(s.read.parquet(p))
      else None
    val sealedDf = side(s"$path/sealed")
    val sealedVals =
      if (sealedDf.isDefined) {
        val root = new org.apache.hadoop.fs.Path(s"$path/sealed")
        val key = fs.makeQualified(root).toString + "#" + dateCol
        val mtime = fs.getFileStatus(root).getModificationTime
        Option(sealedDayCache.get(key)) match {
          case Some((`mtime`, vals)) => vals
          case _ =>
            sealedListings.incrementAndGet()
            val vals = Sinks.partitionFileCounts(s, s"$path/sealed", dateCol)
              .map(_._1)
            sealedDayCache.put(key, (mtime, vals))
            vals
        }
      } else Seq.empty[String]
    val openDf = side(s"$path/open").map { df =>
      val kept = if (sealedVals.isEmpty) df
        else df.filter(!col(dateCol).cast("string").isin(sealedVals: _*))
      kept.drop("batch_id")
    }
    (sealedDf, openDf) match {
      case (Some(a), Some(b)) => a.unionByName(b)
      case (Some(a), None) => a
      case (None, Some(b)) => b
      case (None, None) =>
        throw new IllegalArgumentException(s"empty lake at $path")
    }
  }
}
