package graft.streaming

import graft.functions.Text
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Continuous CORPUS ingest — the streaming face of the curation pipeline:
  * a crawl keeps dropping document files; each micro-batch is
  * NFC-normalized, quality-filtered, exact-deduped within the batch and
  * against the standing table, and appended to the lake. The batch
  * operators (`Text`, `Incremental`) are reused verbatim inside
  * `foreachBatch`, so stream and batch curation can never drift.
  */
object DocStreams {

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** File-source document stream (one file per crawl drop). */
  def readStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(docSchema).parquet(dir)

  /** Curating ingest sink. Per micro-batch:
    *
    *  1. `text` → NFC (composed/decomposed crawl spellings collapse BEFORE
    *     any fingerprint — the dedup-miss q109/FunctionsSpec pins);
    *  2. quality floor (`Text.qualityScore ≥ minQuality`);
    *  3. exact dedup on the normalized fingerprint: within the batch, then
    *     against the standing table via the bloom-prefilter + exact-verify
    *     path ([[graft.operators.Incremental.newRows]] — replay-idempotent
    *     without a marker, same contract as `EventStreams.dedupToLake`);
    *  4. append survivors as one snapshot commit
    *     ([[graft.sources.VersionedLake.append]]; fingerprint persisted as
    *     `fp` for the next batch's verify — no rescan of text).
    *
    * SCALE: each batch touches the standing table only through the bloom
    * sidecar + the id-join verify; text never joins against the corpus.
    */
  def curateToLake(docs: DataFrame, lake: graft.sources.VersionedLake,
                   zone: String, table: String, checkpoint: String,
                   minQuality: Double = 0.0,
                   expectedItems: Long = 1L << 20):
      org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val spark = batch.sparkSession
        val cleaned = batch.toDF()
          .withColumn("text", Text.normalizeUnicode(col("text")))
          .where(Text.qualityScore(col("text")) >= minQuality)
          .withColumn("fp", Text.fingerprint(col("text")))
          .dropDuplicates("fp")
        val survivors =
          if (lake.currentVersion(spark, zone, table) == 0) cleaned
          else graft.operators.Incremental.newRows(cleaned,
            lake.read(spark, zone, table).select("fp"), "fp", expectedItems)
        lake.append(survivors, zone, table): Unit
      }
      .start()

  /** NEAR-dup curating ingest — [[curateToLake]]'s screen upgraded from
    * exact fingerprints to banded MinHash against a PRECOMPUTED corpus-key
    * artifact ([[graft.operators.Incremental.bandedKeys]], read from
    * `corpusKeysPath`): the 100 TB ingest shape where the standing corpus
    * is never re-shingled per batch. Per micro-batch:
    *
    *  1. batch docs screen against the stored corpus keys
    *     ([[graft.operators.Incremental.minhashNewDocs]] — band collision
    *     = dup, saturation semantics included);
    *  2. survivors ALSO near-dup within the batch itself (one batch-local
    *     LSH pass — a crawl drop repeating its own boilerplate must not
    *     land twice), then exact-collapse on the content fingerprint
    *     (sub-shingle docs emit no band keys, so only the fingerprint can
    *     catch their within-batch copies);
    *  3. survivors run an exact-fingerprint RESCUE screen against the
    *     lake's stored `fp` column ([[graft.operators.Incremental.newRows]]
    *     — bloom prefilter + exact verify, never a text join): this is
    *     what makes replay idempotent for docs the band keys cannot see;
    *  4. the new docs append to the lake as one snapshot commit (with
    *     `fp` persisted), THEN the near-dup survivors' band keys append to
    *     the plain-parquet corpus-key artifact,
    *     so the NEXT batch screens against them — the artifact grows
    *     incrementally, no corpus rescan ever;
    *  5. every `compactEveryBatches` micro-batches (default 64; 0
    *     disables) the key artifact compacts via [[compactCorpusKeys]] —
    *     without this a long-lived stream accretes one small file per
    *     batch and the screen pays one file open per historical batch.
    *     Serial micro-batches make the in-stream swap safe; an
    *     interrupted swap rolls FORWARD at the next batch.
    *
    * Replay safety, case by case (the lake commit and the key append are
    * two separate writes, so every crash window between them must be
    * idempotent):
    *
    *  - full replay (checkpoint lost): normal-length docs collide with
    *    their own stored band keys and drop at step 1; sub-shingle docs
    *    (no band keys — they pass every key screen) drop at the step-3
    *    fingerprint pass against the lake. Nothing re-appends.
    *  - crash AFTER the lake append, BEFORE the key append: the replay's
    *    docs pass the key screen (keys never landed), the fingerprint
    *    pass drops them from the lake append (already stored), and —
    *    because the key append derives from the near-dup SURVIVORS, not
    *    from the lake-append rows — their missing band keys land now.
    *  - crash AFTER both writes, BEFORE the checkpoint commit: the replay
    *    collides at the key screen (normal docs) or the fingerprint pass
    *    (sub-shingle docs); neither write repeats.
    */
  def nearDupCurateToLake(docs: DataFrame, lake: graft.sources.VersionedLake,
                          zone: String, table: String,
                          corpusKeysPath: String, checkpoint: String,
                          shingleSize: Int = 3, numHashes: Int = 16,
                          bands: Int = 4, maxCorpusBucket: Int = 4096,
                          expectedItems: Long = 1L << 20,
                          compactEveryBatches: Int = 64):
      org.apache.spark.sql.streaming.StreamingQuery = {
    require(compactEveryBatches >= 0,
      s"compactEveryBatches must be ≥ 0 (0 disables): $compactEveryBatches")
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row],
                       batchId: Long) =>
        val spark = batch.sparkSession
        val conf = spark.sessionState.newHadoopConf()
        val kp = new org.apache.hadoop.fs.Path(corpusKeysPath)
        // roll forward an interrupted compaction swap before reading:
        // without this, a crash between the swap's two renames would make
        // the next batch see "no keys" and silently lose the screen
        recoverKeySwap(kp.getFileSystem(conf), corpusKeysPath)
        val keysExist = kp.getFileSystem(conf).exists(kp)
        val screened =
          if (!keysExist) batch.toDF()
          else graft.operators.Incremental.minhashNewDocsAgainstKeys(
            batch.toDF(), spark.read.parquet(corpusKeysPath), "doc_id",
            "text", shingleSize, numHashes, bands, maxCorpusBucket)
        // batch-local near-dup (keep each cluster's min id), then exact
        // fingerprint collapse — the only pass that sees sub-shingle copies
        val nearKept = graft.operators.Dedup.minhashKeepIdsTransitive(
            screened, "doc_id", "text", shingleSize, numHashes, bands)
          .join(screened, Seq("doc_id"))
          .withColumn("fp", Text.fingerprint(col("text")))
        val survivors = nearKept.join(
            graft.operators.Dedup.fingerprintKeepIds(nearKept, "doc_id",
              "text").select("doc_id"),
            Seq("doc_id"), "left_semi")
          // pinned: the screen reads the key artifact appended to below
          .localCheckpoint()
        val newToLake =
          if (lake.currentVersion(spark, zone, table) == 0) survivors
          else graft.operators.Incremental.newRows(survivors,
            lake.read(spark, zone, table).select("fp"), "fp", expectedItems)
        lake.append(newToLake, zone, table)
        // keys derive from the near-dup SURVIVORS (not newToLake): in the
        // crash-after-lake-append window the replayed docs are fp-dropped
        // from the lake append but their band keys still have to land
        graft.operators.Incremental.bandedKeys(survivors, "doc_id", "text",
            shingleSize, numHashes, bands)
          .write.mode("append").parquet(corpusKeysPath)
        // every-N-batches maintenance: each micro-batch appends one small
        // key file, so a long-lived stream's screen would pay one file
        // open per historical batch. Compacting INSIDE foreachBatch is
        // safe — micro-batches are serial, so nothing else appends — and
        // a crash mid-swap rolls forward at the next batch (above). A
        // replayed batch may compact twice; compaction is idempotent
        // (distinct() of a bag is stable).
        if (compactEveryBatches > 0 &&
            batchId % compactEveryBatches == compactEveryBatches - 1) {
          compactCorpusKeys(spark, corpusKeysPath)
          ()
        }
      }
      .start()
  }

  /** Compact the corpus-key artifact a long-running
    * [[nearDupCurateToLake]] stream grows: each micro-batch appends one
    * small parquet file, and after 10⁴ batches the screen's scan pays
    * 10⁴ file opens for a few MB of keys. Compaction is read → exact-row
    * `distinct()` → coalesce(targetFiles) → write to a sibling temp dir →
    * two-rename swap, old directory deleted last.
    *
    * Screen-identity argument: the artifact is a bag of (id, band, bk)
    * rows and every consumer ([[graft.operators.Incremental
    * .minhashNewDocsAgainstKeys]] → `minhashIngestMatches`) computes
    * bucket counts and member joins from those rows — `distinct()` can
    * only remove EXACT row duplicates (same doc, same band, same key),
    * which are replay/crash artifacts, never two legitimate docs (their
    * `id` differs). So results are identical pre/post compaction;
    * StreamingSpec asserts it end to end.
    *
    * Safe to call from INSIDE the owning stream's `foreachBatch` (the
    * [[nearDupCurateToLake]] `compactEveryBatches` hook does): micro-
    * batches of one stream run serially, so no concurrent append exists
    * within the callback. Only compaction from OUTSIDE a running stream
    * races its appends — run that variant while the stream is STOPPED.
    * A crash mid-swap is recovered on the next call (and by the stream
    * itself): the temp directory is a COMPLETE materialized write before
    * any rename, so a missing live dir with a complete temp rolls
    * FORWARD. Returns the compacted row count.
    */
  def compactCorpusKeys(spark: SparkSession, corpusKeysPath: String,
                        targetFiles: Int = 1): Long =
    Maintenance.compactParquetDir(spark, corpusKeysPath, targetFiles)

  /** Roll an interrupted [[compactCorpusKeys]] swap FORWARD: the only
    * crash window that leaves the live directory missing is after the
    * live→old rename and before the tmp→live rename — at which point the
    * temp directory is a complete, committed parquet write (it is fully
    * written BEFORE the first rename), so renaming it into place finishes
    * the compaction the crash interrupted. Every other window leaves the
    * live directory intact and at worst some leftover temp/old debris,
    * which the next compaction clears. No-op when the live dir exists.
    */
  private def recoverKeySwap(fs: org.apache.hadoop.fs.FileSystem,
                             corpusKeysPath: String): Unit =
    Maintenance.recoverSwap(fs, corpusKeysPath)
}
