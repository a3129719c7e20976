package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import graft.jq.{Interp, JqParser}
import graft.json.{CborCodec, JDoc, JsonText}

/** Single-threaded timings, in the harness thread, of the JSON codec and the jq
  * interpreter on the workload's own document sample. Each figure is the
  * median of five timed rounds, each round repeating the work until it
  * has run for at least `minNs`. */
object Micro {
  private val minNs = 40000000L

  private def timeNs(work: () => Unit): Double = {
    work() // warm the code path
    val rounds = (1 to 5).map { _ =>
      var reps = 0
      val t0 = System.nanoTime()
      var t = t0
      while (t - t0 < minNs) { work(); reps += 1; t = System.nanoTime() }
      (t - t0).toDouble / reps
    }
    rounds.sorted.apply(2)
  }

  /** programs: (jq text, "single" | "generator"). */
  def run(lines: Seq[String], programs: Seq[(String, String)]): Map[String, Any] = {
    val parsed: Seq[Option[JDoc]] = lines.map(l =>
      try Some(JsonText.parse(l)) catch { case _: JsonText.JsonParseException => None })
    val docs = parsed.flatten.toArray
    val texts = lines.zip(parsed).collect { case (l, Some(_)) => l }.toArray
    val inKb = texts.map(_.getBytes(UTF_8).length).sum / 1024.0
    val canon = docs.map(JsonText.canonical)
    val outKb = canon.map(_.getBytes(UTF_8).length).sum / 1024.0
    val parseNs = timeNs(() => texts.foreach(JsonText.parse))
    val writeNs = timeNs(() => docs.foreach(JsonText.canonical))
    val cborNs = timeNs(() => docs.foreach(d => CborCodec.decode(CborCodec.encode(d))))

    val compileNs = programs.map { case (p, _) => timeNs(() => Interp.compile(JqParser.parse(p))) }
    val pipes = programs.map { case (p, cls) => (Interp.compile(JqParser.parse(p)), cls) }
    def evalNs(cls: String): (Double, Int) = {
      val ps = pipes.filter(_._2 == cls).map(_._1)
      if (ps.isEmpty || docs.isEmpty) (0.0, 0)
      else (timeNs(() => ps.foreach(f => docs.foreach(d => f(d, Nil)))) / (ps.size * docs.length), ps.size)
    }
    val (singleNs, nSingle) = evalNs("single")
    val (genNs, nGen) = evalNs("generator")

    var outputs = 0L
    var errorRows = parsed.count(_.isEmpty).toLong
    docs.foreach { d =>
      val entries = pipes.flatMap { case (f, _) => f(d, Nil) }
      outputs += entries.count(_.errors.isEmpty)
      if (entries.exists(_.errors.nonEmpty)) errorRows += 1
    }
    Map(
      "json.parse_ns_per_kb" -> parseNs / inKb,
      "json.write_ns_per_kb" -> writeNs / outKb,
      "json.cbor_roundtrip_ns_per_kb" -> cborNs / outKb,
      "jq.compile_us" -> compileNs.sum / compileNs.size / 1e3,
      "jq.eval_ns_per_doc.single" -> singleNs,
      "jq.eval_ns_per_doc.generator" -> genNs,
      "jq.outputs_per_doc" -> outputs.toDouble / math.max(1, docs.length * pipes.size),
      "jq.error_row_frac" -> errorRows.toDouble / math.max(1, lines.size),
      "micro.bases" -> Map("sample_docs" -> lines.size, "parsed_docs" -> docs.length,
        "sample_kb" -> inKb, "programs" -> pipes.size, "single_programs" -> nSingle,
        "generator_programs" -> nGen, "outputs" -> outputs, "error_rows" -> errorRows))
  }
}
