package graft.tools

import graft.Engine
import graft.functions.Text
import graft.operators.{CorpusPipeline, Dedup, Quality, Splits}
import graft.sources.{Snapshot, Tables, VersionedLake}
import org.apache.spark.sql.functions._

/** End-to-end training-data curation demo — the extension operators chained
  * the way a pipeline consumes them:
  *
  *   bronze ingest → curate (annotate / quality-filter / two-tier dedup) →
  *   eval-contamination scrub → PII redaction → deterministic split +
  *   k-fold → quality gate → z-ordered silver write → token-budget packing
  *   → gold rollup → snapshot diff vs bronze.
  *
  * Usage: runMain graft.tools.TrainingDataDemo [sfDir] [lakeRoot]
  */
object TrainingDataDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val lakeRoot = args.lift(1).getOrElse(
      java.nio.file.Files.createTempDirectory("graft-training-lake").toString)
    val spark = Engine.localSession(appName = "training-data-demo")
    val lake = VersionedLake(lakeRoot)

    // 1. bronze: raw ingest
    val docs = Tables.load(spark, sfDir, "documents")
    lake.write(docs, "bronze", "documents")
    println(s"bronze: ${docs.count()} raw docs → $lakeRoot/bronze")

    // 2. curate: NFC-canonicalize (composed/decomposed crawl spellings must
    // collapse BEFORE any fingerprint) → annotate → quality/lang filter →
    // exact + MinHash dedup
    val canonical = docs.withColumn("text", Text.normalizeUnicode(col("text")))
    val curated = CorpusPipeline.curate(canonical)
    println(s"curated: ${curated.count()} docs survive quality+dedup")

    // 2b. domain selection: DSIR importance resample toward the src0/src1
    // "target domain", plus the bigram-perplexity signal both as evidence
    val dsirTarget = canonical.where(col("source").isin("src0", "src1"))
    val dsirPool = curated.where(!col("source").isin("src0", "src1"))
    val selected = Quality.importanceResample(dsirPool, dsirTarget,
      "doc_id", "text", k = 200, seed = 42L)
    val ppl = Quality.bigramLogProb(selected, dsirTarget, "doc_id", "text")
    println(s"dsir: ${selected.count()} docs drawn toward target; " +
      s"mean bigram NLL ${ppl.agg(avg("nll_bg")).head().getDouble(0)}")

    // 3. eval-set contamination scrub: the eval docs themselves leave the
    // training pool entirely, and remaining docs overlapping them are
    // dropped (pinned: the flag set feeds both the count and the anti-join)
    val evalSet = docs.where(col("doc_id") < 20)
    val trainPool = curated.where(col("doc_id") >= 20)
    val contaminated = Dedup.contamination(trainPool, evalSet, "doc_id", "text",
        n = 3, minShared = 3)
      .localCheckpoint()
    val clean = trainPool.join(contaminated.select("doc_id"), Seq("doc_id"), "left_anti")
    println(s"contamination: ${contaminated.count()} docs dropped for eval overlap")

    // 4. scrub PII, assign reproducible splits and folds
    val prepared = Splits.kFold(
      Splits.hashSplit(
        clean.withColumn("text", Text.redactPii(col("text"))),
        "doc_id", Seq("train" -> 80, "val" -> 90, "test" -> 100)),
      "doc_id", k = 5)

    // 5. quality gate before promotion (single-pass audit)
    val audit = Quality.audit(prepared, Seq(
      Quality.notNull("doc_id"),
      Quality.notNull("text"),
      Quality.inSet("split", Seq("train", "val", "test")),
      Quality.unique("doc_id")))
    audit.show(truncate = false)
    val failed = audit.where(col("n_failed") > 0).count()
    require(failed == 0, s"$failed audit checks failed — aborting promotion")

    // 6. silver: z-ordered on (n_chars, quality) for stat-based pruning
    lake.write(prepared, "silver", "documents")
    lake.optimizeZOrder(spark, "silver", "documents", Seq("n_chars", "quality"))
    val silver = lake.read(spark, "silver", "documents")
    println(s"silver: ${silver.count()} docs, z-ordered → silver/documents")

    // 7. pack each split into 2048-token context windows (per-shard
    // running sum — the loader consumes packs, not loose docs)
    val packed = Splits.packByBudget(silver, "doc_id", "n_tokens", 2048,
      partitionCols = Seq("split"))
    packed.groupBy("split").agg(
        countDistinct("pack_id").as("n_packs"),
        count(lit(1)).as("n_docs"))
      .orderBy("split").show(truncate = false)

    // 8. gold: per (source, split) rollup. This is a FULL-snapshot
    // aggregate, so an idempotent overwrite is correct — mergeAggregate is
    // for incremental DELTAS (see EventStreams.hourlyGoldToLake) and would
    // double-count on a re-run.
    lake.write(
      silver.groupBy("source", "split")
        .agg(count(lit(1)).as("n"), sum("n_chars").as("sum_chars")),
      "gold", "corpus_stats")
    lake.read(spark, "gold", "corpus_stats").orderBy("source", "split")
      .show(40, truncate = false)

    // 9. audit trail: what did curation drop/change vs bronze?
    Snapshot.diffSummary(
        docs.select("doc_id", "text"),
        silver.select("doc_id", "text"), Seq("doc_id"))
      .orderBy("change").show(truncate = false)

    // 10. tokenizer: BPE merges from one vocabulary aggregate, then
    // scan-side segmentation — subwords per doc vs whitespace words
    val merges = Text.bpeMerges(silver, "text", numMerges = 40)
    println(s"bpe: ${merges.size} merges, first 5 = ${merges.take(5)}")
    silver.select(
        sum(size(Text.bpeSegment(col("text"), merges))).as("n_subwords"),
        sum(size(split(lower(trim(col("text"))), "\\s+"))).as("n_words"))
      .show(truncate = false)

    // 11. mixture diagnostics: which sources skew the token distribution
    // (unigram KL vs corpus), then rebalance with an absolute per-source cap
    val balanced = Splits.balancedDownsample(silver, Seq("source"), 80L, "doc_id")
    println(s"balanced: ${balanced.count()} docs after per-source cap 80")

    // 12. contrastive pairs over the embedding table: deterministic
    // negatives (never self, reproducible epochs)
    val emb = Tables.loadEmbeddings(spark, sfDir)
    val negs = Splits.negativePairs(emb, "vec_id", k = 4, n = emb.count())
    println(s"negatives: ${negs.count()} pairs for ${emb.count()} anchors")

    // 13. semantic curation of the embedding space: SemDeDup inside seed
    // cells, then prototypicality band selection on the survivors (drop
    // the most prototypical 10% and the outlier 10% — D4-style)
    val seeds = emb.where(col("vec_id") <= 8)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0).toInt -> r.getSeq[Float](1).map(_.toDouble).toSeq)
      .sortBy(_._1)
    val semKept = graft.operators.Similarity.semDedup(emb, "vec_id",
      "embedding", seeds.map(_._1).toSeq, seeds.map(_._2).toSeq, 0.3)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cell").orderBy(col("dist").desc, col("vec_id"))
    val band = graft.operators.Similarity.assignToCentroids(semKept, "vec_id",
        "embedding", seeds.map(_._1).toSeq, seeds.map(_._2).toSeq)
      .withColumn("proto", percent_rank().over(w))
      .where(col("proto") > 0.1 && col("proto") < 0.9)
    println(s"semantic: ${emb.count()} vecs → ${semKept.count()} after " +
      s"SemDeDup → ${band.count()} in the prototypicality band")

    // 14. label hygiene: auto-label a held-out pool from the labeled seeds,
    // then screen the WHOLE labeled set for label noise by centroid margin
    val autoLabeled = graft.operators.Similarity.knnLabelPropagation(
      emb.where(col("vec_id") % 5 =!= 0), emb.where(col("vec_id") % 5 === 0),
      "vec_id", "embedding", "label", k = 5)
    val noisy = graft.operators.Similarity.centroidMargins(emb,
      "vec_id", "embedding", "label").where(col("margin") < 0)
    println(s"labels: ${autoLabeled.count()} pool vecs auto-labeled; " +
      s"${noisy.count()} flagged as possible label noise")

    // 15. publish the curated silver table AS DELTA so the reference's own
    // stack can read it in place (and prove it round-trips via our reader)
    val deltaDir = s"$lakeRoot/delta/documents_silver"
    graft.sources.DeltaExport.overwrite(
      balanced.select("doc_id", "lang", "source", "text"), deltaDir)
    val back = graft.sources.DeltaRead.read(spark, deltaDir)
    println(s"delta: ${back.count()} rows published at $deltaDir " +
      s"(v${graft.sources.DeltaRead.snapshot(spark, deltaDir).version})")

    // 16. corpus composition report + sample-∝-quality draw for a
    // human-review batch (deterministic: re-runs review the same docs)
    CorpusPipeline.sourceReport(canonical).orderBy(col("share").desc)
      .show(5, truncate = false)
    val review = Splits.weightedSample(
      curated.where(col("quality") > 0), "doc_id", "quality", k = 25)
    println(s"review batch: ${review.count()} docs drawn ∝ quality")

    // 17. train the learned quality/language filter (distributed GD) and
    // score the pool; BM25 retrieves audit examples for a probe query
    val fcols = Seq("f0", "f1", "f2", "f3")
    val feats = graft.operators.Classify.textFeatures(canonical, "doc_id", "text")
      .withColumn("y", when(col("lang") === "en", 1.0).otherwise(0.0))
    val wts = graft.operators.Classify.trainLogistic(feats, fcols, "y",
      iterations = 20, lr = 2.0)
    val scored = graft.operators.Classify.scoreLogistic(feats, fcols, wts)
    scored.groupBy("y").agg(round(avg("p"), 4).as("mean_score"),
      count(lit(1)).as("n")).orderBy("y").show(truncate = false)
    graft.operators.Retrieval.bm25(canonical, "doc_id", "text",
      Seq("spark", "join", "window"), topK = 3).show(truncate = false)

    // 18. embedding-space geometry: covariance spectrum (top-2 principal
    // directions) — the anisotropy check before trusting cosine distances
    val (nv, _, cov) = graft.operators.EmbeddingStats.moments(emb, "embedding")
    val dirs = graft.operators.EmbeddingStats.pcaTopDirections(cov, k = 2)
    val proj = graft.operators.EmbeddingStats.project(emb, "embedding", dirs)
    val varTot = cov.indices.map(i => cov(i)(i)).sum
    val pcVar = proj.agg(var_pop(col("pc0")).as("v0"), var_pop(col("pc1")).as("v1")).head
    println(f"pca: $nv vecs, top-2 directions explain " +
      f"${(pcVar.getDouble(0) + pcVar.getDouble(1)) / varTot * 100}%.1f%% of variance")

    // 19. relationship structure over the dedup graph: PageRank authority
    // + triangle clustering on verified near-dup pairs (template families
    // show up as dense, high-coefficient clusters)
    val dupPairs = Dedup.minhashCandidatePairs(canonical, "doc_id", "text")
      .select(col("id_a").as("src"), col("id_b").as("dst"))
    if (!dupPairs.isEmpty) {
      graft.operators.Graphs.triangleStats(dupPairs).show(truncate = false)
      graft.operators.Graphs.pageRank(dupPairs.unionByName(
          dupPairs.select(col("dst").as("src"), col("src").as("dst"))),
          iterations = 5)
        .orderBy(col("pr").desc).limit(5).show(truncate = false)
    }

    // 20. incremental consumption: append a second batch to the Delta
    // table and tail the change feed — the downstream-trainer handoff
    val v1 = graft.sources.DeltaExport.append(
      canonical.where(col("doc_id") < 10)
        .select("doc_id", "lang", "source", "text"), deltaDir)
    val feed = graft.sources.DeltaRead.readChanges(spark, deltaDir, v1, v1)
    println(s"change feed v$v1: " + feed.groupBy("_change_type").count()
      .collect().map(r => s"${r.getString(0)}=${r.getLong(1)}").mkString(", "))

    // 14. measurement layer: profile the published table, put an error bar
    // on its mean length, route languages with NB, check annotator
    // agreement against the router, and test the vintage for drift
    val profile = graft.operators.Quality.profile(silver,
      Seq("doc_id", "lang", "source"))
    println("profile: " + profile.collect()
      .map(r => s"${r.getString(0)}(distinct=${r.getLong(3)})").mkString(", "))
    val ci = graft.operators.Stats.bootstrapMeanCI(silver, "doc_id",
      "n_chars", replicates = 100).head()
    println(f"mean n_chars ${ci.getAs[Double]("mean")}%.1f " +
      f"CI [${ci.getAs[Double]("ci_lo")}%.1f, ${ci.getAs[Double]("ci_hi")}%.1f]")
    val (nbModel, nbPriors) = graft.operators.Classify.trainNaiveBayes(
      silver, "text", "lang")
    val routed = graft.operators.Classify.scoreNaiveBayes(silver, "doc_id",
      "text", nbModel, nbPriors)
    val agreement = graft.operators.Stats.cohenKappa(
      silver.join(routed, "doc_id"), "lang", "predicted_class").head()
    println(f"nb-vs-label kappa ${agreement.getAs[Double]("kappa")}%.3f")
    val drift = graft.operators.EmbeddingStats.mmdLinear(
      emb.where(col("vec_id") % 2 === 0), emb.where(col("vec_id") % 2 === 1),
      "vec_id", "embedding", gamma = 0.02, blockWidth = 8).head()
    println(f"embedding MMD² ${drift.getAs[Double]("mmd2")}%.6f over " +
      s"${drift.getAs[Long]("n_blocks")} blocks")

    // 21. planning layer — the "before you burn compute" tables: the
    // dedup config's S-curve (is s₅₀ where we want the near-dup bar?),
    // the experiment sizing curve (days until an effect is detectable),
    // and the scaling-law fit (what loss does 10× more data buy)
    graft.operators.Dedup.lshPlan(spark, numHashes = 16)
      .where(col("sim") === 0.8)
      .orderBy("bands").show(truncate = false)
    val perUser = Tables.loadEvents(spark, sfDir)
      .groupBy("user_id")
      .agg(count(lit(1)).as("y"),
        floor(min(col("ts").cast("long")) / 3600).as("bin"))
    graft.operators.Stats.mdeCurve(perUser, col("bin"), "y",
      horizons = Seq(24, 72, 168)).show(truncate = false)
    val lossPts = perUser.groupBy("bin").agg(count(lit(1)).as("nu"))
      .withColumn("n_scale", sum("nu").over(
        org.apache.spark.sql.expressions.Window.orderBy("bin")
          .rowsBetween(Long.MinValue, 0)))
      .select(col("n_scale"),
        (lit(2.0) + lit(10.0) *
          pow(col("n_scale").cast("double"), lit(-0.3))).as("loss"))
    val law = graft.operators.Quality.scalingLawFit(lossPts, "n_scale",
      "loss").head()
    println(f"scaling law: loss ≈ ${law.getAs[Double]("c")}%.3f + " +
      f"${law.getAs[Double]("a")}%.2f·N^(−${law.getAs[Double]("b")}%.3f) " +
      f"(r² ${law.getAs[Double]("r2")}%.5f)")

    // 22. RAG assembly, end to end: seed BM25 hits vote an RM3 expansion,
    // the EXPANDED query re-retrieves the candidate pool, MMR diversifies
    // it into the context set, and the pack machinery fits that set to
    // the window budget — retrieval → expansion → rerank → pack composing
    // as a pipeline, not just passing individually. The expansion-term
    // collect is fbTerms-bounded (the sanctioned k-sized driver scalar).
    val ragTerms = Seq("spark", "join", "window")
    val expTerms = graft.operators.Retrieval.pseudoRelevanceExpansion(
        canonical, "doc_id", "text", ragTerms, fbDocs = 5, fbTerms = 5)
      .select("term").collect().map(_.getString(0)).toSeq
    val pool = graft.operators.Retrieval.bm25(canonical, "doc_id", "text",
      ragTerms ++ expTerms, topK = 24)
    val ragCands = pool
      .join(emb.select(col("vec_id").as("doc_id"), col("embedding")),
        "doc_id")
      .withColumn("ragq", lit(0L))
    val context = graft.operators.Similarity.mmrRerank(ragCands, "ragq",
        "doc_id", "score", "embedding", k = 8, lambda = 0.7)
      .join(canonical.select(col("doc_id"),
        Text.tokenCount(col("text")).cast("long").as("n_tokens")),
        "doc_id")
    val ragPacked = Splits.packByBudget(context, "rank", "n_tokens", 512)
    println(s"rag: expansion (${expTerms.mkString(", ")}); pool 24 → " +
      s"context 8 docs → " +
      s"${ragPacked.select("pack_id").distinct().count()} packs of ≤512 " +
      "tokens")

    spark.stop()
  }
}
