package perfbench

import java.io.{File, PrintWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Checkpoints, Dedup, TextAnalysis}
import graft.sources.JsonDocs

/** The benchmark's JVM side. Reads a spec written by `run.py`, sets the
  * session up `setups` times, runs the workload's battery in a closed loop
  * (one client thread, one query at a time) for `seconds`, and writes
  *   - results.jsonl: one line per query execution with its observed result;
  *   - summary.json: set-up times, listener totals, provenance and, when
  *     tracing, the per-layer counters and the span records.
  * It checks nothing itself: the oracle comparison is the runner's job. */
object Harness {

  def main(args: Array[String]): Unit = {
    val spec = new ObjectMapper().readTree(new File(args(0)))
    val workload = spec.get("workload").asText
    val dataDir = spec.get("data_dir").asText
    val outDir = new File(spec.get("out_dir").asText)
    val cores = spec.get("cores").asInt
    val traced = spec.get("trace").asBoolean
    val specs = spec.get("queries").asScala.toSeq
    val warm = spec.get("warm_queries").asInt

    val tracer = new Tracer(traced)
    val probe = new Probe
    val plans = new PlanProbe
    val results = new PrintWriter(new File(outDir, "results.jsonl"), UTF_8)
    var runSeq = 0

    def newSession(): SparkSession = {
      val s = SparkSession.builder()
        .master(s"local[$cores]")
        .appName("graft-perfbench")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", spec.get("spark_local_dir").asText)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.extensions", "graft.GraftExtensions")
        .config("spark.sql.unionOutputPartitioning", "false")
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s.sparkContext.addSparkListener(probe)
      s.listenerManager.register(plans)
      tracer.sc = s.sparkContext
      s
    }

    def resetStorage(s: SparkSession): Unit = {
      s.catalog.clearCache()
      s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }

    def runQuery(s: SparkSession, q: Query, phase: String, pass: Int): Double = {
      runSeq += 1
      val sc = s.sparkContext
      sc.setLocalProperty(Props.Phase, phase)
      sc.setLocalProperty(Props.Run, runSeq.toString)
      tracer.query = q.id
      val t0 = System.nanoTime()
      val (obs, err) =
        try (tracer("query." + q.id)(q.run()), null)
        catch { case e: Throwable => (Nil, e.toString) }
      val wall = (System.nanoTime() - t0) / 1e9
      resetStorage(s)
      sc.setLocalProperty(Props.Run, null)
      tracer.query = null
      results.println(Json.write(Map("run" -> runSeq, "phase" -> phase, "pass" -> pass,
        "id" -> q.id, "wall_s" -> wall, "result" -> obs, "error" -> err)))
      wall
    }

    // ------------------------------------------------------------ set-up
    val setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var wl: Workloads = null
    for (i <- 0 until spec.get("setups").asInt) {
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      spark = newSession()
      spark.sparkContext.setLocalProperty(Props.Phase, "setup")
      wl = new Workloads(spark, dataDir, tracer)
      wl.load(workload)
      specs.take(warm).foreach(q => runQuery(spark, wl.query(q), "setup", -i - 1))
      setupS += (System.nanoTime() - t0) / 1e9
    }

    // ------------------------------------------------------------- warm
    // untimed passes over the whole battery, at least `warm_passes` and at
    // least `warm_seconds`, so the measured loop sees compiled code rather
    // than the first-execution cost of each query
    val queries = specs.map(wl.query)
    val (warmPasses, warmNs) = (spec.get("warm_passes").asInt, spec.get("warm_seconds").asDouble * 1e9)
    val w0 = System.nanoTime()
    var w = 0
    while (w < warmPasses || System.nanoTime() - w0 < warmNs) {
      w += 1
      queries.foreach(q => runQuery(spark, q, "warm", w))
    }

    // ----------------------------------------------------------- measure
    val sc = spark.sparkContext
    org.apache.spark.perfbench.BusShim.drain(sc)
    plans.counting = traced
    val seconds = spec.get("seconds").asDouble
    val m0 = System.nanoTime()
    var pass = 0
    var nQueries = 0
    while (pass == 0 || System.nanoTime() - m0 < seconds * 1e9) {
      pass += 1
      queries.foreach { q => runQuery(spark, q, "measure", pass); nQueries += 1 }
    }
    val measureWall = (System.nanoTime() - m0) / 1e9
    org.apache.spark.perfbench.BusShim.drain(sc)
    plans.counting = false
    val blockPeakMeasure = probe.blockPeak
    results.close()

    val layers: Map[String, Any] =
      if (!traced) Map.empty
      else {
        sc.setLocalProperty(Props.Phase, "trace")
        val m = traceLayers(spark, wl, tracer, probe, spec, workload, dataDir, cores,
          measureWall, nQueries, blockPeakMeasure)
        org.apache.spark.perfbench.BusShim.drain(sc)
        m ++ planLayers(plans, nQueries)
      }

    val summary = Map(
      "workload" -> workload,
      "setup_s" -> setupS.toSeq,
      "measure_wall_s" -> measureWall,
      "passes" -> pass,
      "queries" -> nQueries,
      "measure" -> probe.phase("measure").toMap,
      "runs" -> probe.byRun.asScala.map { case (k, v) => k -> v.toMap }.toMap,
      "rss_hwm_mb" -> rssHwmMb(),
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "layers" -> layers,
      "spans" -> tracer.records.map(r => Map("name" -> r.name, "start_ns" -> r.startNs,
        "end_ns" -> r.endNs, "parent" -> r.parent, "query" -> r.query)).toSeq)
    Files.write(new File(outDir, "summary.json").toPath, Json.write(summary).getBytes(UTF_8))
    spark.stop()
  }

  /** Resident-set high-water mark of this JVM, from /proc (Linux). */
  private def rssHwmMb(): Double =
    try {
      val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
      line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    } catch { case _: Exception => -1.0 }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def planLayers(p: PlanProbe, nQueries: Int): Map[String, Any] = Map(
    "plans.planning_ms_per_query" -> p.planningMs / nQueries,
    "jq.parses_per_row" -> p.stringParses.toDouble / nQueries,
    "plans.jq_native_frac" ->
      (if (p.jqExtractAnalyzed == 0) 0.0
       else (p.jqExtractAnalyzed - p.jqExtractOptimized).toDouble / p.jqExtractAnalyzed),
    "plans.bases" -> Map("executions" -> p.executions, "queries" -> nQueries,
      "jq_extract_analyzed" -> p.jqExtractAnalyzed, "jq_extract_optimized" -> p.jqExtractOptimized,
      "string_parses" -> p.stringParses))

  val Operators = Seq("exactDedup", "minhashNearDups", "nearDupClusters", "pageRank", "degrees")

  /** The traced run's per-layer counters beyond the plan listener. */
  private def traceLayers(spark: SparkSession, wl: Workloads, tracer: Tracer, probe: Probe,
      spec: JsonNode, workload: String, dataDir: String, cores: Int,
      measureWall: Double, nQueries: Int, blockPeak: Long): Map[String, Any] = {
    val out = mutable.LinkedHashMap.empty[String, Any]
    val sc = spark.sparkContext
    val drain = () => org.apache.spark.perfbench.BusShim.drain(sc)

    // spark.* over the measured loop
    drain()
    val m = probe.phase("measure")
    out("spark.jobs_per_query") = m.jobs.toDouble / nQueries
    out("spark.stages_per_query") = m.stages.toDouble / nQueries
    out("spark.tasks_per_query") = m.tasks.toDouble / nQueries
    out("spark.core_util") = m.runNs / (measureWall * 1e9 * cores)
    out("spark.shuffle_write_mb_per_query") = m.shuffleWriteBytes / 1e6 / nQueries
    out("spark.spill_mb") = m.spillBytes / 1e6
    out("spark.gc_frac") = if (m.runNs == 0) 0.0 else m.gcMs * 1e6 / m.runNs

    // minhashNearDups (corpus only) runs here, once, outside the checked
    // battery. Its recall of the planted near-duplicate pairs is reported
    // rather than checked; its listener totals join operators.* below
    val (verified, candidates, found, planted) =
      if (workload != "corpus_dedup") (0L, 0L, 0L, 0L)
      else tracer("probe.verified") {
        val exact = wl.exactDeduped()
        try {
          val pairs = tracer("operators.minhashNearDups")(
            Dedup.minhashNearDups(exact, "doc_id", col("text"), 3, 0.8))
          val nearPairs = wl.table("near_pairs")
          val (v, f) =
            try (pairs.count(), pairs.join(nearPairs, Seq("id_a", "id_b"), "left_semi").count())
            finally Checkpoints.release(pairs)
          val c = Dedup.lshCandidates(
            exact.select(col("doc_id"), Dedup.wordShingles(col("text"), 3).as("sh")), "doc_id", "sh").count()
          (v, c, f, nearPairs.count())
        } finally Checkpoints.release(exact)
      }
    out("operators.minhashNearDups.verified_per_candidate") =
      if (candidates == 0) 0.0 else verified.toDouble / candidates
    out("operators.minhashNearDups.planted_recall") = if (planted == 0) 0.0 else found.toDouble / planted
    out("operators.minhashNearDups.bases") = Map("verified" -> verified, "candidates" -> candidates,
      "planted_found" -> found, "planted" -> planted)

    // operators.* : listener totals attributed by span, per call
    drain()
    for (op <- Operators) {
      val t = probe.span("operators." + op)
      val (wall, calls) = tracer.wall("operators." + op)
      val per = math.max(1, calls).toDouble
      out(s"operators.$op.wall_s") = wall / per
      out(s"operators.$op.cpu_s") = t.cpuNs / 1e9 / per
      out(s"operators.$op.jobs") = t.jobs / per
      out(s"operators.$op.shuffle_mb") = t.shuffleWriteBytes / 1e6 / per
      out(s"operators.$op.spill_mb") = t.spillBytes / 1e6 / per
      out(s"operators.$op.calls") = calls
    }
    out("operators.checkpoint_peak_mb") = blockPeak / 1e6

    // SparkEntry.table_* : the first stage that reads each source
    probe.keepStagesOf = _.startsWith("probe.table.")
    val scans = spec.get("scan_sources").asScala.map(_.asText).toSeq.map { name =>
      val span = "probe.table." + name
      tracer(span)(noop(if (name.endsWith(".jsonl")) wl.jsonl(name) else wl.table(name)))
      drain()
      val first = probe.spanStages.get(span).min
      val tasks = Option(probe.stageTasks.get(first)).map(_.toSeq).getOrElse(Seq.empty)
      val share = if (tasks.sum == 0) 1.0 / math.max(1, tasks.size) else tasks.max.toDouble / tasks.sum
      name -> Map("partitions" -> tasks.size, "max_task_share" -> share, "task_ms" -> tasks)
    }
    out("SparkEntry.table_partitions") = scans.head._2("partitions")
    out("SparkEntry.table_max_task_share") = scans.head._2("max_task_share")
    out("SparkEntry.tables") = scans.toMap

    // functions.* : each kernel projected alone over a cached text frame
    val text = spec.get("text_source")
    val base = (text.get("kind").asText match {
      case "table" => wl.table(text.get("name").asText)
      case "jsonl" => wl.jsonl(text.get("name").asText)
    }).select(expr(text.get("expr").asText).as("text")).filter(col("text").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    val nText = base.count()
    val sh = base.select(Dedup.wordShingles(col("text"), 3).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    sh.count()
    def kernelNs(name: String, df: => DataFrame): Double = {
      tracer("probe.functions." + name)(noop(df))
      drain()
      probe.span("probe.functions." + name).cpuNs.toDouble / nText
    }
    out("functions.shingles_ns_per_doc") = kernelNs("shingles", base.select(Dedup.wordShingles(col("text"), 3)))
    out("functions.minhash_ns_per_doc") = kernelNs("minhash", sh.select(Dedup.minhashSignature(col("sh"))))
    out("functions.langid_ns_per_doc") = kernelNs("langid", base.select(TextAnalysis.langId(col("text"))))
    sh.unpersist(true)
    base.unpersist(true)

    // sources.* : the JSONL reader alone
    val jsonlName = spec.get("jsonl_source").asText
    tracer("probe.sources.jsonl")(noop(JsonDocs.readJsonl(spark, s"$dataDir/$jsonlName")))
    drain()
    val jsonlLines = spec.get("jsonl_lines").asLong
    out("sources.jsonl_ns_per_doc") = probe.span("probe.sources.jsonl").cpuNs.toDouble / jsonlLines

    // json.* and jq.* : one thread in this JVM, on the workload's sample
    val lines = scala.io.Source.fromFile(s"$dataDir/sample.jsonl", "UTF-8").getLines().toVector
    val programs = spec.get("micro_programs").asScala.toSeq.map(p => (p.get(0).asText, p.get(1).asText))
    out ++= Micro.run(lines, programs)
    out.toMap
  }
}
