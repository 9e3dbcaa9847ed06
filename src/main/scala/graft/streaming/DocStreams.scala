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

  /** Commits between compactions of [[nearDupCurateToLake]]'s key table:
    * each micro-batch appends one small data dir, and the screen pays one
    * file open per dir it reads.
    */
  private val KeyCompactEvery = 64

  /** NEAR-dup curating ingest — [[curateToLake]]'s screen upgraded from
    * exact fingerprints to banded MinHash against a PRECOMPUTED corpus-key
    * table ([[graft.operators.Incremental.bandedKeys]] rows in `lake`'s
    * `zone/keysTable`; seed it with `lake.write(bandedKeys(...), zone,
    * keysTable)`): the 100 TB ingest shape where the standing corpus is
    * never re-shingled per batch. Per micro-batch:
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
    *     the key table as another, so the NEXT batch screens against them
    *     — the keys grow incrementally, no corpus rescan ever;
    *  5. every [[KeyCompactEvery]] key-table commits, the key table
    *     compacts ([[graft.sources.VersionedLake.compact]]) — a snapshot
    *     commit that keeps every row, so the screen reads the same bag of
    *     keys from fewer files. A compaction racing another writer loses
    *     the manifest race and retries on the new snapshot.
    *
    * Replay safety, case by case (the lake commit and the key append are
    * two separate commits, so every crash window between them must be
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
                          keysTable: String, checkpoint: String,
                          shingleSize: Int = 3, numHashes: Int = 16,
                          bands: Int = 4, maxCorpusBucket: Int = 4096,
                          expectedItems: Long = 1L << 20):
      org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val spark = batch.sparkSession
        val screened =
          if (lake.currentVersion(spark, zone, keysTable) == 0) batch.toDF()
          else graft.operators.Incremental.minhashNewDocsAgainstKeys(
            batch.toDF(), lake.read(spark, zone, keysTable), "doc_id",
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
          // pinned: the doc append and the key append both read it, and
          // re-running the screen for the second costs ~1.5× per batch
          .localCheckpoint()
        val newToLake =
          if (lake.currentVersion(spark, zone, table) == 0) survivors
          else graft.operators.Incremental.newRows(survivors,
            lake.read(spark, zone, table).select("fp"), "fp", expectedItems)
        lake.append(newToLake, zone, table)
        // keys derive from the near-dup SURVIVORS (not newToLake): in the
        // crash-after-lake-append window the replayed docs are fp-dropped
        // from the lake append but their band keys still have to land
        val v = lake.append(graft.operators.Incremental.bandedKeys(survivors,
          "doc_id", "text", shingleSize, numHashes, bands), zone, keysTable)
        if (v % KeyCompactEvery == 0)
          lake.compact(spark, zone, keysTable, filesPerPartition = 1): Unit
      }
      .start()
}
