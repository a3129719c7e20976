package perfbench

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Jq, SparkEntry}
import graft.operators.{Checkpoints, Dedup, Graph, Relational, TextAnalysis}
import graft.sources.JsonDocs

/** One battery query; `run` forces full evaluation through a noop sink and
  * returns the observed result as JSON text rows for the oracle check. */
final case class Query(id: String, run: () => Seq[String])

/** Sink helpers: results are taken with an [[Observation]] on the frame
  * written to `noop`, so the check costs no second evaluation. */
object Sink {
  def observe(df: DataFrame, metrics: Column*): Map[String, Any] = {
    val obs = Observation()
    df.observe(obs, metrics.head, metrics.tail: _*).write.format("noop").mode("overwrite").save()
    obs.get
  }

  /** Every row of a small result, as JSON text. */
  def rows(df: DataFrame): Seq[String] =
    observe(df, collect_list(to_json(struct(df.columns.map(col).toIndexedSeq: _*))).as("rows"))("rows")
      .asInstanceOf[scala.collection.Seq[String]].toSeq

  /** One JSON row of named aggregates over a large result. */
  def summary(df: DataFrame, metrics: Column*): Seq[String] = {
    val m = observe(df, metrics: _*)
    Seq(Json.write(m.map { case (k, v) => k -> (v match {
      case s: scala.collection.Seq[_] => s.toSeq
      case x => x
    }) }))
  }

  def crcSum(c: Column): Column = sum(crc32(c.cast("binary")))
}

/** The query batteries. Query parameters come from the spec the runner
  * writes, so the oracle and the harness share one definition. */
final class Workloads(spark: SparkSession, dir: String, trace: Tracer) {

  def table(name: String): DataFrame =
    trace("SparkEntry.table")(SparkEntry.table(spark, dir, name))

  def jsonl(name: String): DataFrame =
    trace("JsonDocs.readJsonl")(JsonDocs.readJsonl(spark, s"$dir/$name"))

  /** Load every source of a workload (the set-up step). */
  def load(workload: String): Unit = workload match {
    case "jq_extract"   => table("docs"); table("docs_struct")
    case "jq_transform" => jsonl("docs.jsonl")
    case "rel_lineitem" => Seq("lineitem", "orders", "customer", "nation").foreach(table)
    case "corpus_dedup" => table("documents"); table("near_pairs"); table("links")
  }

  def query(q: JsonNode): Query = {
    val id = q.get("id").asText
    val run: () => Seq[String] = q.get("kind").asText match {
      case "extract" => () => extract(q)
      case "multi"   => () => multi(q)
      case "explode" => () => explode(q.get("prog").asText)
      case "cbor"    => () => cbor()
      case "rel"     => () => rel(q.get("name").asText, q.get("params"))
      case "corpus"  => () => corpus(q.get("name").asText, q.get("params"))
    }
    Query(id, run)
  }

  // ------------------------------------------------------------- jq

  private def typed(prog: String, kind: String, c: Column): Column = trace("Jq." + kind) {
    kind match {
      case "long"   => Jq.long(prog, c)
      case "double" => Jq.double(prog, c)
      case "string" => Jq.string(prog, c)
      case "bool"   => Jq.bool(prog, c)
    }
  }

  /** count, non-null count and sum of a value column; strings sum their
    * CRC-32, booleans count their trues. */
  private def valueAggs(v: Column, kind: String, name: String): Seq[Column] = Seq(
    count(v).as(s"${name}_n"),
    (kind match {
      case "string" => Sink.crcSum(v)
      case "bool"   => sum(v.cast("long"))
      case _        => sum(v)
    }).as(s"${name}_sum"))

  private def extract(q: JsonNode): Seq[String] = {
    val c = col(q.get("column").asText)
    val (k, v) = (q.get("key"), q.get("val"))
    val df = table(q.get("table").asText)
      .select(typed(k.get("prog").asText, k.get("type").asText, c).as("k"),
        typed(v.get("prog").asText, v.get("type").asText, c).as("v"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n"), valueAggs(col("v"), v.get("type").asText, "v"): _*)
    Sink.rows(df)
  }

  private def multi(q: JsonNode): Seq[String] = {
    val fields = (0 until q.get("fields").size).map { i =>
      val f = q.get("fields").get(i)
      (f.get(0).asText, f.get(1).asText, f.get(2).asText)
    }
    val key = q.get("key").asText
    val m = trace("Jq.multi")(Jq.multi(fields, col(q.get("column").asText)))
    val rest = fields.filter(_._1 != key)
    val df = table(q.get("table").asText)
      .select(m.as("m")).select(col("m.*"))
      .groupBy(col(key).as("k"))
      .agg(count(lit(1)).as("n"), rest.flatMap { case (n, _, kind) => valueAggs(col(n), kind, n) }: _*)
    Sink.rows(df)
  }

  private def explode(prog: String): Seq[String] = {
    val out = trace("Jq.explodeDocs")(Jq.explodeDocs(jsonl("docs.jsonl"), prog, col("doc"), "out"))
    Sink.summary(out.select(col("out")),
      count(lit(1)).as("n"), Sink.crcSum(col("out")).as("crc"))
  }

  private def cbor(): Seq[String] = {
    val src = jsonl("docs.jsonl")
    val out = trace("Jq.fromCbor")(Jq.fromCbor(trace("Jq.toCbor")(Jq.toCbor(col("doc")))))
    Sink.summary(src.select(out.as("out"), col("error")),
      count(col("out")).as("n"), Sink.crcSum(col("out")).as("crc"), count(col("error")).as("errors"))
  }

  // ------------------------------------------------------- relational

  private def day(p: JsonNode, k: String): Column =
    lit(java.time.LocalDate.of(1992, 1, 1).plusDays(p.get(k).asLong).toString).cast("timestamp")

  private def revenue: Column =
    sum(col("l_extendedprice").cast("decimal(18,2)") *
      (lit(1) - col("l_discount")).cast("decimal(9,4)")).cast("double")

  private def rel(name: String, p: JsonNode): Seq[String] = {
    val li = table("lineitem")
    val df = name match {
      case "cube" =>
        li.filter(col("l_shipdate") < day(p, "cube_before_day"))
          .cube(col("l_returnflag"), col("l_linestatus"))
          .agg(count(lit(1)).as("n"),
            trace("Relational.dsum")(Relational.dsum(col("l_quantity"))).as("sum_qty"),
            trace("Relational.dsum")(Relational.dsum(col("l_extendedprice"))).as("sum_price"))
      case "rollup" =>
        li.rollup(col("l_returnflag"), col("l_linestatus"))
          .agg(count(lit(1)).as("n"),
            trace("Relational.dsum")(Relational.dsum(col("l_extendedprice"))).as("sum_price"),
            trace("Relational.dsum")(Relational.dsum(col("l_tax"))).as("sum_tax"))
      case "pricing" =>
        trace("Relational.pricingSummary")(Relational.pricingSummary(
          li.filter(col("l_shipdate") <= day(p, "pricing_before_day"))))
      case "q3" =>
        val d = day(p, "q3_day")
        table("customer").filter(col("c_mktsegment") === p.get("q3_segment").asText)
          .join(table("orders").filter(col("o_orderdate") < d), col("c_custkey") === col("o_custkey"))
          .join(li.filter(col("l_shipdate") > d), col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("l_orderkey"), col("o_orderdate"))
          .agg(revenue.as("revenue"))
          .orderBy(col("revenue").desc, col("o_orderdate"), col("l_orderkey"))
          .limit(10)
          .select(col("l_orderkey"), col("revenue"), unix_micros(col("o_orderdate")).as("odate"))
      case "q18" =>
        val big = li.groupBy(col("l_orderkey")).agg(sum(col("l_quantity")).as("sq"))
          .filter(col("sq") > p.get("q18_qty").asDouble)
        table("orders").join(big, col("o_orderkey") === col("l_orderkey"))
          .join(table("customer"), col("c_custkey") === col("o_custkey"))
          .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
            unix_micros(col("o_orderdate")).as("odate"), col("o_totalprice"), col("sq"))
          .orderBy(col("o_totalprice").desc, col("odate"), col("o_orderkey"))
          .limit(100)
      case "nation" =>
        trace("Relational.revenueByNation")(Relational.revenueByNation(
          table("customer"), table("orders"), li, table("nation")))
      case "topk" =>
        trace("Relational.topKPerGroup")(Relational.topKPerGroup(
          li.filter(col("l_discount") >= p.get("topk_min_disc").asDouble),
          Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber")),
          p.get("topk_k").asInt))
          .select(col("l_returnflag"), col("l_linestatus"), col("l_orderkey"),
            col("l_linenumber"), col("l_extendedprice"), col("rnk"))
    }
    Sink.rows(df)
  }

  // ----------------------------------------------------------- corpus

  private def idChecks(id: Column): Seq[Column] = Seq(
    count(lit(1)).as("n"), sum(id).as("id_sum"),
    sum(pmod(id * lit(2654435761L), lit(1000003L))).as("id_hash"))

  def gated(): DataFrame = {
    val text = col("text")
    val lang = trace("TextAnalysis.langId")(TextAnalysis.langId(text))
    val punct = trace("TextAnalysis.punctRatio")(TextAnalysis.punctRatio(text))
    table("documents").filter(lang === "en" && punct < 0.3).select(col("doc_id"), text)
  }

  def exactDeduped(): DataFrame =
    trace("operators.exactDedup")(Checkpoints.checkpoint(
      Dedup.exactDedup(gated(), Seq(col("text")), col("doc_id"))))

  private def corpus(name: String, p: JsonNode): Seq[String] = name match {
    case "gates" =>
      Sink.summary(gated(), idChecks(col("doc_id")): _*)
    case "exact" =>
      val exact = exactDeduped()
      try Sink.summary(exact, idChecks(col("doc_id")): _*)
      finally Checkpoints.release(exact)
    case "clusters" =>
      // the pipeline_clean shape, gates -> exactDedup -> nearDupClusters,
      // one representative kept per cluster. The near-duplicate pairs are
      // an input: minhashNearDups misses some of them on the current code
      // (see the README), so it runs in the traced run's probe instead
      val exact = exactDeduped()
      val clusters =
        try trace("operators.nearDupClusters")(
          Dedup.nearDupClusters(exact.select(col("doc_id")), "doc_id", table("near_pairs")))
        finally Checkpoints.release(exact)
      try Sink.summary(clusters.filter(col("id") === col("rep")), idChecks(col("id")): _*)
      finally Checkpoints.release(clusters)
    case "pagerank" =>
      trace("operators.pageRank") {
        val ranks = Graph.pageRank(table("links"), p.get("iterations").asInt)
        try Sink.summary(ranks,
          count(lit(1)).as("n"), sum(col("rank")).as("rank_sum"),
          collect_list(when(pmod(col("node"), lit(p.get("sample_mod").asLong)) === 0,
            to_json(struct(col("node"), col("rank"))))).as("sample"))
        finally Checkpoints.release(ranks)
      }
    case "degrees" =>
      trace("operators.degrees") {
        Sink.summary(Graph.degrees(table("links")),
          count(lit(1)).as("n"), sum(col("out_deg")).as("out_sum"), sum(col("in_deg")).as("in_sum"),
          max(col("in_deg")).as("in_max"),
          sum(pmod(col("node") * lit(2654435761L) + col("in_deg") * lit(40503L) + col("out_deg"),
            lit(1000003L))).as("hash"))
      }
  }
}
