package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.Engine

/** Runs one workload in this JVM and writes the raw measurements to
  * `--out` as JSON; `perfbench/run.py` checks the results and reports.
  *
  * {{{
  *   graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                   --cores <n> --dir <fresh run dir> --out <json> [--spans <jsonl>]
  *                   [--tables <dir>]                            (operator_mix)
  * }}}
  */
object Main {
  val setupReps = 3

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cores = a("cores").toInt
    val dir = new File(a("dir"))

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = Engine.localSession(cores, "graftbench")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val tracer = new Tracer(spark)
    if (trace) tracer.install()
    val results = new ResultLog(new File(dir, "results.jsonl"))
    val h = new Harness(spark, tracer, results)

    val wl: Workload = workload match {
      case "bikeshare" => new Bikeshare(spark, tracer, seed, trips = 6000, batches = 2, runDir = dir)
      case "operator_mix" => new OperatorMix(spark, tracer, seed, new File(a("tables")))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    wl.prepare()
    // set-up, repeated into fresh directories; the last one is used
    tracer.on = trace
    val setupTimes = (0 until setupReps).map { r =>
      val d = new File(dir, s"setup_$r")
      if (r > 0) org.apache.commons.io.FileUtils.deleteDirectory(new File(dir, s"setup_${r - 1}"))
      d.mkdirs()
      Harness.time(tracer.op(s"setup#$r", "setup")(wl.setup(d)))._2
    }
    tracer.on = false

    // one warm-up pass: JIT and Spark code generation are cold on the first
    h.warmup(1)(wl.pass(h))

    // a traced run halves the window and takes one pass per half at least
    val untracedSeconds = if (trace) seconds / 2 else seconds
    h.run("untraced", untracedSeconds, if (trace) 1 else wl.minPasses)(wl.pass(h))
    var layers = Map.empty[String, Any]
    if (trace) {
      val floor = Harness.median((0 until 5).map(_ => Harness.time(spark.range(1).count())._2))
      tracer.on = true
      val gc1 = Harness.gcSeconds
      h.run("traced", seconds / 2, 1)(wl.pass(h))
      val gcS = Harness.gcSeconds - gc1
      tracer.on = false
      layers = Layers.compute(spark, tracer, h, wl, seed, sessionS, floor, gcS)
      a.get("spans").foreach { p =>
        Files.write(new File(p).toPath,
          tracer.spanRecords.map(Results.mapper.writeValueAsString).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      }
    }

    val out = Map(
      "workload" -> workload,
      "seed" -> seed,
      "master" -> spark.sparkContext.master,
      "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq,
      "session_s" -> sessionS,
      "setup_reps_s" -> setupTimes,
      "setup_s" -> (sessionS + Harness.median(setupTimes)),
      "passes" -> h.passes.map { case (w, s, cpu, n) => Map("window" -> w, "s" -> s, "cpu_s" -> cpu, "ops" -> n) },
      "ops" -> h.ops.map(o => Map("name" -> o.name, "window" -> o.window, "pass" -> o.pass,
        "s" -> o.seconds, "result" -> o.result, "error" -> o.error)),
      "check" -> wl.checkInputs,
      "layers" -> layers)
    results.close()
    Files.write(new File(a("out")).toPath, Results.mapper.writeValueAsBytes(out))
    spark.stop()
  }
}

/** Per-layer figures of the traced window (and of the traced set-up). */
object Layers {
  import Harness.median

  def compute(spark: org.apache.spark.sql.SparkSession, tr: Tracer, h: Harness, wl: Workload,
              seed: Long, sessionS: Double, floorS: Double, gcS: Double): Map[String, Any] = {
    val spans = tr.spans.toSeq
    val roots = spans.filter(_.parent == 0)
    val tracedRoots = roots.filter(_.op.contains("#traced"))
    val byParent = spans.groupBy(_.parent)
    // ops that build, plan and execute one query
    val queryRoots = tracedRoots.filter(r => byParent.getOrElse(r.id, Nil).exists(_.name == "exec"))
    def child(root: Span, name: String): Option[Span] = byParent.getOrElse(root.id, Nil).find(_.name == name)
    def spanMedian(layer: String, name: String): Double =
      median(spans.filter(s => s.layer == layer && s.name == name).map(_.seconds))
    def perOpMean(f: Span => Double): Double =
      if (queryRoots.isEmpty) 0.0 else queryRoots.map(f).sum / queryRoots.size
    def childSeconds(name: String)(r: Span) = child(r, name).map(_.seconds).getOrElse(0.0)
    def childJobs(name: String)(r: Span) = child(r, name).map(c => tr.subtreeWork(c.id).jobs.toDouble).getOrElse(0.0)
    val rootWork = queryRoots.map(r => r.id -> tr.subtreeWork(r.id)).toMap

    val m = scala.collection.mutable.LinkedHashMap[String, Double]()
    m("engine.session_s") = sessionS
    m("engine.floor_s") = floorS
    Seq("lineitem", "orders", "customer", "nation", "region", "documents", "embeddings", "events").foreach { t =>
      val opens = spans.filter(s => s.layer == "sources" && s.name == s"open_$t")
      m(s"sources.open_s.$t") = median(opens.map(_.seconds))
      m(s"sources.open_jobs.$t") = median(opens.map(s => tr.subtreeWork(s.id).jobs.toDouble))
    }
    Seq("read", "upsert", "compact").foreach(n => m(s"sources.${n}_s") = spanMedian("sources", n))
    // set by the workload that has the layer (layerExtras below)
    Seq("sources.ingest_rows_per_s", "sources.files_written", "sources.bytes_written",
      "sources.bytes_rewritten", "sources.stored_bytes_per_input_byte", "pipeline.csv_gen_s").foreach(k => m(k) = 0.0)
    Seq("conform", "enrich", "build").foreach(n => m(s"pipeline.${n}_s") = spanMedian("pipeline", n))
    val opSecs = h.ops.filter(_.window == "traced").groupBy(_.name).view.mapValues(os => median(os.map(_.seconds).toSeq)).toMap
    (1 to 22).foreach(i => m(s"pipeline.q${i}_s") = opSecs.getOrElse(s"q$i", 0.0))
    m("query.build_s") = perOpMean(childSeconds("build"))
    m("query.plan_s") = perOpMean(childSeconds("plan"))
    m("query.exec_s") = perOpMean(childSeconds("exec"))
    m("query.build_jobs") = perOpMean(childJobs("build"))
    m("query.exec_jobs") = perOpMean(childJobs("exec"))
    m("query.stages") = perOpMean(r => rootWork(r.id).stages.toDouble)
    m("query.tasks") = perOpMean(r => rootWork(r.id).tasks.toDouble)
    m("query.shuffle_write_bytes") = perOpMean(r => rootWork(r.id).shuffleWriteBytes.toDouble)
    m("query.spill_bytes") = perOpMean(r => rootWork(r.id).spillBytes.toDouble)
    m("query.exchanges") = perOpMean(r => rootWork(r.id).exchanges.toDouble)
    val traced = h.ops.filter(_.window == "traced")
    m("query.pinned_bytes") = if (traced.isEmpty) 0.0 else traced.map(_.storageBytes).max.toDouble
    OperatorMix.queries.foreach { q =>
      val rs = tracedRoots.filter(_.name == q)
      m(s"$q.build_s") = median(rs.map(childSeconds("build")))
      m(s"$q.exec_s") = median(rs.map(childSeconds("exec")))
      m(s"$q.build_jobs") = median(rs.map(childJobs("build")))
    }
    m ++= wl.layerExtras(h)
    m ++= ExprBench.run(spark, seed, rows = 20000, slowRows = 500)
    m("jvm.gc_s") = gcS
    val passes = h.passes.groupBy(_._1).view.mapValues(ps => median(ps.map(_._2).toSeq)).toMap
    m("trace.overhead_s") = passes.getOrElse("traced", 0.0) - passes.getOrElse("untraced", 0.0)
    val untraced = h.ops.filter(_.window == "untraced").map(_.seconds).sorted
    m("op_p50_s") = median(untraced.toSeq)
    m("op_p90_s") = if (untraced.isEmpty) 0.0 else untraced(math.min(untraced.size - 1, (untraced.size * 0.9).toInt))
    m("op_samples") = untraced.size.toDouble
    m("storage_mb") = Harness.storageBytes(spark) / 1e6

    // self time per layer over the traced window, and how much of each op's
    // wall time its child spans (build, plan, exec, ...) account for
    val self = tr.selfSeconds
    val windowSpans = spans.filter(_.op.contains("#traced"))
    val layerTable = windowSpans.groupBy(_.layer).toSeq.sortBy(_._1).map { case (layer, ss) =>
      Map("layer" -> layer, "spans" -> ss.size, "self_s" -> ss.map(s => self(s.id)).sum,
        "dur_s" -> ss.map(_.seconds).sum)
    }
    val coverage = tracedRoots.groupBy(_.name).toSeq.sortBy(_._1).map { case (name, rs) =>
      val wall = rs.map(_.seconds).sum
      val kids = rs.flatMap(r => byParent.getOrElse(r.id, Nil))
      Map("op" -> name, "n" -> rs.size, "wall_s" -> wall,
        "build_s" -> kids.filter(_.name == "build").map(_.seconds).sum,
        "plan_s" -> kids.filter(_.name == "plan").map(_.seconds).sum,
        "exec_s" -> kids.filter(_.name == "exec").map(_.seconds).sum,
        "children_s" -> kids.map(_.seconds).sum)
    }
    Map("metrics" -> m, "self_time" -> layerTable, "op_coverage" -> coverage)
  }
}
