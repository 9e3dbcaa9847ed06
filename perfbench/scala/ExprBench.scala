package graftbench

import org.apache.spark.sql.SparkSession

/** ns/row of each registered `graft_*` SQL function against the nearest
  * built-in way to get the same (or the closest) result, under whole-stage
  * codegen, over a fixed seeded input cached in memory. A figure is the
  * median time of a `noop` write of the projected column minus the median
  * time of projecting the input column itself, per row; `identity` reports
  * that subtracted floor. Built-ins that run a lambda per array element are
  * measured on a smaller slice of the same input, since they are two to
  * three orders of magnitude slower.
  */
object ExprBench {
  private val words = "the a and data table row column scan join über café naïve señor " +
    "group sort filter window key value hash merge batch stream der die el la le"
  private val shinglesHof =
    "transform(sequence(1, greatest(size(split(lower(text), ' ')) - 2, 1)), " +
      "i -> array_join(slice(split(lower(text), ' '), i, 3), ' '))"
  private def sumSq(a: String) = s"aggregate($a, 0D, (s, x) -> s + x * x)"

  /** graft function → (its call, the nearest built-in expression). */
  val pairs: Seq[(String, String, String)] = Seq(
    ("graft_shingles", "graft_shingles(text, 3)", shinglesHof),
    ("graft_minhash_sig", "graft_minhash_sig(text, 3, 16)",
      "transform(sequence(0, 15), h -> aggregate(sh, 9223372036854775807L, " +
        "(m, s) -> least(m, xxhash64(s, h))))"),
    ("graft_simhash", "graft_simhash(text, 2, 64)", "xxhash64(text)"),
    ("graft_norm_fingerprint", "graft_norm_fingerprint(text)",
      "md5(regexp_replace(lower(text), '[^a-z0-9 ]', ''))"),
    ("graft_nfc", "graft_nfc(text)", "lower(text)"),
    ("graft_fold_accents", "graft_fold_accents(text)",
      "translate(text, 'áéíóúàèìòùäëïöüñç', 'aeiouaeiouaeiounc')"),
    ("graft_cosine", "graft_cosine(a, b)",
      s"aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (s, v) -> s + v) / " +
        s"(sqrt(${sumSq("a")}) * sqrt(${sumSq("b")}))"),
    ("graft_simhash_md5", "graft_simhash_md5(text, 2)", "md5(text)"),
    ("graft_lang_id", "graft_lang_id(text)",
      "size(array_intersect(split(lower(text), ' '), array('the', 'and', 'der', 'die', 'el', 'la', 'le')))"),
    ("graft_chunk_hashes", "graft_chunk_hashes(text, 16, 6)",
      "transform(sequence(1, length(text), 64), i -> xxhash64(substring(text, i, 64)))"),
    ("graft_minhash_union", "graft_minhash_union(sig, 16)",
      (0 until 16).map(i => s"min(sig[$i])").mkString("array(", ", ", ")")),
    ("graft_bpe_segment", "graft_bpe_segment(text, array('t h', 'th e', 'a n'))", "split(text, ' ')"))

  private val aggregates = Set("graft_minhash_union")
  /** Built-ins that read the shingle array, which is projected first: a
    * lambda re-evaluates an expression it references once per element.
    */
  private val overShingles = Set("graft_minhash_sig")

  private val slow = Set("graft_minhash_sig", "graft_shingles")

  def run(spark: SparkSession, seed: Long, rows: Int, slowRows: Int): Map[String, Double] = {
    val vocab = words.split(" ").map(w => s"'$w'").mkString("array(", ", ", ")")
    val n = words.split(" ").length
    val all = spark.range(rows).selectExpr(
      "CAST(id % 64 AS INT) AS grp",
      s"concat_ws(' ', transform(sequence(1, 5 + CAST(pmod(xxhash64(id, $seed), 30) AS INT)), " +
        s"i -> element_at($vocab, CAST(pmod(xxhash64(id, i, $seed), $n) AS INT) + 1))) AS text",
      s"transform(sequence(1, 64), i -> CAST(pmod(xxhash64(id, i, $seed, 1), 1000) / 1000.0 AS FLOAT)) AS a",
      s"transform(sequence(1, 64), i -> CAST(pmod(xxhash64(id, i, $seed, 2), 1000) / 1000.0 AS FLOAT)) AS b")
      .selectExpr("*", "graft_minhash_sig(text, 3, 16) AS sig")
    val big = all.repartition(4).cache()
    val small = all.limit(slowRows).repartition(4).cache()
    Seq(big, small).foreach(_.count())
    def seconds(input: org.apache.spark.sql.DataFrame, name: String, sql: String, builtin: Boolean): Double = {
      val df =
        if (aggregates(name)) input.groupBy("grp").agg(org.apache.spark.sql.functions.expr(sql).as("r"))
        else if (builtin && overShingles(name)) input.selectExpr("*", s"$shinglesHof AS sh").selectExpr(s"$sql AS r")
        else input.selectExpr(s"$sql AS r")
      Harness.median((0 until 3).map(_ => Harness.time(df.write.format("noop").mode("overwrite").save())._2))
    }
    try {
      val floorBig = seconds(big, "identity", "text", builtin = false)
      val floorSmall = seconds(small, "identity", "text", builtin = false)
      def ns(name: String, sql: String, builtin: Boolean): Double =
        if (builtin && slow(name)) (seconds(small, name, sql, builtin) - floorSmall) * 1e9 / slowRows
        else (seconds(big, name, sql, builtin) - floorBig) * 1e9 / rows
      Map("expr.identity.ns_per_row" -> floorBig * 1e9 / rows) ++
        pairs.flatMap { case (name, call, builtin) =>
          Seq(s"expr.$name.ns_per_row" -> ns(name, call, builtin = false),
            s"expr.$name.builtin_ns_per_row" -> ns(name, builtin, builtin = true))
        }
    } finally Seq(big, small).foreach(_.unpersist(blocking = true))
  }
}
