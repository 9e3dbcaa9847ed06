package graft.tools

import graft.{Engine, TestQueries}
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scaling measurement over the real queries: replicate the sf0.1 tables
  * `rep`× (≈ sf1 at the default 10), time `TestQueries.all(q)` at 1× and
  * at rep×, and report the per-query exponent `log_rep(t_rep / t_1)`.
  * 1.0 is linear; above 1.3 is flagged as super-linear (a hidden quadratic
  * step, a driver bottleneck, a broadcast threshold crossed). Build (the
  * `fn(spark, dir)` call) and execute (its `.count()`) are timed apart, so
  * a flagged exponent points at the layer that grew. Writes SCALING.md.
  *
  * Usage: runMain graft.tools.ScaleCheck [replication] [q1,q2,...]
  * With a query filter only those queries run and SCALING.md is NOT
  * rewritten (iteration mode); the full sweep regenerates the file.
  */
object ScaleCheck {

  /** The 40 slowest queries of the 32-core round-18 sweep
    * (BENCH_r18.json), slowest first, without q129: its corpus size comes
    * from `bikeshareScale(dir)`, not from the sf tables, so replicating
    * the tables cannot scale it.
    */
  private val sweep: Seq[String] = Seq(
    "q258_ann_recall", "q36b_minhash_exact", "q295_bradley_terry",
    "q243_chi_merge", "q95b_pq_topk_prod", "q97_resample_ffill",
    "q203_entity_resolve", "q297_dawid_skene", "q96_ivfpq_topk",
    "q39d_ivf_topk", "q238_confident_joint", "q332_textrank",
    "q260_repeated_spans", "q141_pagerank", "q95_pq_topk", "q291_hits",
    "q115_dedup_survivors", "q202_entity_match", "q131_chunk_dedup_verified",
    "q126_perplexity_tiers", "q147_jaccard_join", "q251_leak_free_split",
    "q165_margin_mining", "q145_triangles", "q86_source_jaccard_exact",
    "q117_mixture_sample", "q259_sketch_error", "q153_communities",
    "q50b_chunk_dedup_exact", "q38_jaccard_dups", "q77_transitive_dedup",
    "q39c_lsh_topk", "q45_corpus_pipeline", "q198_kaplan_meier",
    "q287_adamic_adar", "q281_asof_tolerance",
    "q311_personalized_pagerank", "q108_dsir_weights", "q292_nelson_aalen",
    "q226_mad_outliers")

  /** Replica `i` adds `i · KeyShift` to every key and foreign key. */
  val KeyShift = 100000000L

  private val Vowels = "aeiou"
  private val Consonants = "bcdfghjklmnpqrstvwxz"

  /** Write `rep` replicas of every table under `srcDir` to `outDir`.
    *
    * Replication is content-aware, not just key-shifted. Text goes through
    * a per-replica character bijection (a vowel permutation plus a
    * consonant rotation via `translate`), so replicas are different
    * corpora: plain copies make every document a near-dup of its clones,
    * and the dedup operators would then (correctly) emit rep² the pairs,
    * measuring clone pathology instead of scaling. Vowels alone are not
    * enough: the first permutations fix 'a' and 'e', and the synthetic
    * vocabulary is a/e-heavy, so vowel-only replicas share half their
    * tokens. Duplicates within a replica transform alike, so the
    * duplicate structure is kept. Replica `i` of `embeddings` rotates its
    * coordinates by `i` positions, an orthogonal map: distances within a
    * replica are kept and no vector is cloned. Keys are shifted
    * consistently, so every join keeps its 1× fan-out; `nation` and
    * `region` are copied once. Tables are read through `Tables.load*`, so
    * the events `ts` vintage reads the same at both scales.
    */
  def replicate(spark: SparkSession, srcDir: String, outDir: String,
                rep: Int): Unit = {
    // (vowel permutation, rotation) is distinct for i < 5! and the
    // embedding rotation for i < dim = 64
    require(rep >= 1 && rep <= 64, s"replication must be in [1, 64], got $rep")
    val vowelPerms = Vowels.permutations.take(rep).toIndexedSeq
    def bijection(c: String, i: Int): Column = {
      val r = i % Consonants.length
      translate(col(c), Vowels + Consonants,
        vowelPerms(i) + Consonants.drop(r) + Consonants.take(r))
    }
    def rotate(c: String, i: Int): Column =
      if (i == 0) col(c)
      else transform(col(c), (_, j) =>
        element_at(col(c), pmod(j + lit(i), size(col(c))) + 1))
    def write(name: String, src: DataFrame, keys: Seq[String],
              text: Seq[String] = Nil, vectors: Seq[String] = Nil): Unit =
      (0 until rep).map { i =>
        val replaced = keys.map(k => k -> (col(k) + lit(i * KeyShift))) ++
          text.map(t => t -> bijection(t, i)) ++
          vectors.map(v => v -> rotate(v, i))
        src.withColumns(replaced.toMap)
      }.reduce(_ union _)
        .write.mode("overwrite").parquet(s"$outDir/$name.parquet")
    def load(name: String) = Tables.load(spark, srcDir, name)
    write("lineitem", load("lineitem"), Seq("l_orderkey", "l_partkey", "l_suppkey"))
    write("orders", load("orders"), Seq("o_orderkey", "o_custkey"))
    write("customer", load("customer"), Seq("c_custkey"), text = Seq("c_name"))
    write("part", load("part"), Seq("p_partkey"), text = Seq("p_name"))
    write("supplier", load("supplier"), Seq("s_suppkey"))
    write("documents", Tables.loadDocuments(spark, srcDir), Seq("doc_id"),
      text = Seq("text"))
    write("embeddings", Tables.loadEmbeddings(spark, srcDir), Seq("vec_id"),
      vectors = Seq("embedding"))
    write("events", Tables.loadEvents(spark, srcDir), Seq("event_id", "user_id"))
    Seq("nation", "region").foreach { n =>
      load(n).write.mode("overwrite").parquet(s"$outDir/$n.parquet")
    }
  }

  /** One timed run: seconds in `fn(spark, dir)`, seconds in `.count()`,
    * and the row count.
    */
  private case class Run(buildS: Double, execS: Double, rows: Long) {
    def totalS: Double = buildS + execS
  }

  private def timeOnce(spark: SparkSession, name: String, dir: String): Run = {
    val t0 = System.nanoTime()
    val df = TestQueries.all(name)(spark, dir)
    val t1 = System.nanoTime()
    val n = df.count()
    Run((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9, n)
  }

  /** Min-of-2 by total time; a row count that differs between the two
    * runs is an error, not a timing.
    */
  private def bestOf2(spark: SparkSession, name: String, dir: String): Run = {
    val a = timeOnce(spark, name, dir)
    val b = timeOnce(spark, name, dir)
    require(a.rows == b.rows, s"non-deterministic row count: ${a.rows} vs ${b.rows}")
    if (b.totalS < a.totalS) b else a
  }

  private def exponent(t1: Double, tN: Double, rep: Int): Double =
    math.log(tN / t1) / math.log(rep.toDouble)

  private def verdict(exp: Double): String =
    if (exp <= 1.1) "linear" else if (exp <= 1.3) "near-linear" else "FLAG super-linear"

  def main(args: Array[String]): Unit = {
    val rep = args.headOption.map(_.toInt).getOrElse(10)
    val filter = args.drop(1).headOption.map(_.split(",").toSeq)
    val names = filter.getOrElse(sweep)
    val unknown = names.filterNot(TestQueries.all.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    require(rep >= 2, s"replication must be at least 2, got $rep")
    val base = "/root/testdata/sf0.1"
    val out = s"/tmp/graft_scale_x$rep"
    val cores = Engine.defaultCores
    val spark = Engine.localSession(cores, "scalecheck")
    replicate(spark, base, out, rep)

    // a query that throws gets an error row, never a fast-looking time
    val results: Seq[(String, Either[String, (Run, Run)])] = names.map { name =>
      val r =
        try {
          timeOnce(spark, name, base) // warm-up: codegen, scan infrastructure
          val one = bestOf2(spark, name, base)
          val many = bestOf2(spark, name, out)
          println(f"SCALE $name%-28s 1x build ${one.buildS}%6.2fs exec ${one.execS}%6.2fs" +
            f"  ${rep}x build ${many.buildS}%6.2fs exec ${many.execS}%6.2fs" +
            f"  exp ${exponent(one.totalS, many.totalS, rep)}%.2f")
          Right((one, many))
        } catch { case scala.util.control.NonFatal(e) =>
          val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
            .replaceAll("[|\\n\\r]", " ").take(160)
          println(s"SCALE $name ERROR $msg")
          Left(msg)
        }
      name -> r
    }

    val md = new StringBuilder
    md ++= s"# Scaling: sf0.1 → ${rep}× (≈ sf${"%.1f".format(0.1 * rep)})\n\n"
    md ++= s"Measured ${java.time.LocalDate.now()} on `local[$cores]` by " +
      s"`runMain graft.tools.ScaleCheck $rep`.\nEach row times the query's own\n" +
      "`TestQueries.all` entry on the sf0.1 tables (1×) and on the same tables\n" +
      s"replicated ${rep}× (keys shifted per replica, text and embeddings mapped\n" +
      "by a per-replica bijection, so replicas are new data, not clones).\n" +
      "Build is the `fn(spark, dir)` call, execute its `.count()`; each point\n" +
      "is the min-of-2 by total after one 1× warm-up. The exponent is\n" +
      s"`log_$rep(t_${rep}× / t_1×)` over build + execute: ≤ 1.1 linear,\n" +
      "≤ 1.3 near-linear, above 1.3 flagged.\n\n"
    md ++= s"| query | build 1× s | exec 1× s | build ${rep}× s | exec ${rep}× s " +
      s"| rows 1× | rows ${rep}× | exponent | verdict |\n"
    md ++= "|---|---|---|---|---|---|---|---|---|\n"
    results.foreach {
      case (name, Right((one, many))) =>
        val exp = exponent(one.totalS, many.totalS, rep)
        md ++= f"| $name | ${one.buildS}%.2f | ${one.execS}%.2f | ${many.buildS}%.2f " +
          f"| ${many.execS}%.2f | ${one.rows} | ${many.rows} | $exp%.2f | ${verdict(exp)} |\n"
      case (name, Left(msg)) =>
        md ++= s"| $name | – | – | – | – | – | – | – | ERROR: $msg |\n"
    }
    md ++= "\nThe queries are the 40 slowest of the 32-core round-18 sweep\n" +
      "(BENCH_r18.json) except q129_bikeshare_scale: its corpus size comes from\n" +
      "`bikeshareScale(dir)`, not from the sf tables, so replicating the tables\n" +
      "cannot scale it. Queries that train an ANN model cache it per session\n" +
      "and sf directory, as in Bench, so their min-of-2 times the search, not\n" +
      "the training. Sub-linear exponents mean the 1× run is dominated by\n" +
      "fixed per-job overhead (task launch, planning) rather than data volume.\n"
    if (filter.isEmpty) {
      java.nio.file.Files.write(java.nio.file.Paths.get("SCALING.md"),
        md.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println("wrote SCALING.md")
    } else println("query filter active: SCALING.md not rewritten")
    spark.stop()
  }
}
