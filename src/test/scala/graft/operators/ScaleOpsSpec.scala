package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** Behavior specs for the round-6 scale operators: Bloom decontamination,
  * duplicated-substring runs, char n-gram LM scoring, fixed-point
  * PageRank, z-order layout. */
class ScaleOpsSpec extends SparkTestBase {

  private def docs = spark.read.parquet(s"$sfDir/documents.parquet")

  // ------------------------------------------------------ bloom decontam

  test("bloomDecontaminate equals the exact anti-join, at any fpp") {
    val corpus = docs
    val block = corpus.filter(pmod(col("doc_id"), lit(41)) === 0)
    val exact = corpus.join(block.select(col("text").as("__bt")),
        corpus("text") === col("__bt"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    for (fpp <- Seq(0.5, 0.03)) { // 0.5: false positives guaranteed to occur
      val got = Curation.bloomDecontaminate(corpus, block, col("text"), col("text"),
          expectedItems = 100L, fpp = fpp)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(got == exact, s"fpp=$fpp must not change the output, only the prefilter rate")
    }
  }

  test("bloomDecontaminate removes exact-duplicate texts of blocked docs too") {
    import spark.implicits._
    val corpus = Seq((1L, "keep me"), (2L, "blocked text"), (3L, "blocked text"))
      .toDF("id", "text")
    val block = Seq((9L, "blocked text")).toDF("bid", "btext")
    val out = Curation.bloomDecontaminate(corpus, block, col("text"), col("btext"),
        expectedItems = 10L)
      .select("id").as[Long].collect().toSet
    assert(out == Set(1L))
  }

  // ------------------------------------------------------ substring runs

  test("duplicateRuns finds the maximal shared run with correct offsets") {
    import spark.implicits._
    // aperiodic shared block (a self-similar block like "SSS…" would
    // GENUINELY match at every alignment — one run per diagonal)
    val shared = ('A' to 'Z').mkString + "0123" // 30 distinct chars
    val d = Seq(
      (1L, "aaa" + shared + "bbbbbbbb"),
      (2L, "ccccccc" + shared + "dd"),
      (3L, "nothing in common here at all with the others")
    ).toDF("doc_id", "text")
    val runs = Dedup.duplicateRuns(d, "doc_id", col("text"), k = 10, minRunLen = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // maximal run: the full 30-char block, 1-based starts (4 in doc1, 8 in doc2)
    assert(runs.toSeq == Seq((1L, 2L, 4L, 8L, 30L)), runs.mkString(","))
  }

  test("duplicateRuns: a period-1 block matches on every alignment diagonal") {
    import spark.implicits._
    val d = Seq((1L, "S" * 20 + "x"), (2L, "y" + "S" * 20)).toDF("doc_id", "text")
    val runs = Dedup.duplicateRuns(d, "doc_id", col("text"), k = 10, minRunLen = 15)
      .collect().map(r => (r.getLong(2), r.getLong(3), r.getLong(4)))
    // diagonals with >= 15 chars of overlap between the two 20-char blocks:
    // diff in [-5, 5] → 11 runs, the longest being the 20-char alignment
    assert(runs.length == 11 && runs.map(_._3).max == 20L,
      runs.sorted.mkString(","))
  }

  test("duplicateRuns: runs shorter than minRunLen are dropped; k floor holds") {
    import spark.implicits._
    val d = Seq(
      (1L, "xx" + ("R" * 15) + "yyyyyyyyyyyy"),
      (2L, "zzzz" + ("R" * 15) + "wwwwwwww")
    ).toDF("doc_id", "text")
    val hit = Dedup.duplicateRuns(d, "doc_id", col("text"), k = 10, minRunLen = 15).count()
    val miss = Dedup.duplicateRuns(d, "doc_id", col("text"), k = 10, minRunLen = 16).count()
    assert(hit == 1L && miss == 0L, s"got hit=$hit miss=$miss")
  }

  test("duplicateRuns: mega-gram cap drops boilerplate runs, keeps rare ones") {
    import spark.implicits._
    val boiler = ('A' to 'Z').mkString            // shared by ALL docs
    val rare = "0123456789!@#$%^&*()_+-=[]{}|;:"  // shared by docs 1,2 only
    val d = Seq(
      (1L, boiler + "xx" + rare), (2L, boiler + "yyyy" + rare),
      (3L, boiler + "zz"), (4L, boiler + "ww"), (5L, boiler + "vv")
    ).toDF("doc_id", "text")
    val uncapped = Dedup.duplicateRuns(d, "doc_id", col("text"), 10, 20)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.size == 10, s"all C(5,2) boilerplate pairs: $uncapped")
    // boilerplate 10-grams occur at >= 5 positions corpus-wide; rare at 2
    val capped = Dedup.duplicateRuns(d, "doc_id", col("text"), 10, 20,
      maxPositionsPerGram = 4)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((1L, 2L)), s"only the rare-block pair survives: $capped")
  }

  test("selfRepeatRuns: finds the doubled block within one document") {
    import spark.implicits._
    val block = ('a' to 'z').mkString // aperiodic 26-char block
    val d = Seq(
      (1L, "xx" + block + "yy" + block + "zz"), // block at 3 and at 31
      (2L, "no repeats in this one at all ok")
    ).toDF("doc_id", "text")
    val runs = Dedup.selfRepeatRuns(d, "doc_id", col("text"), k = 10, minRunLen = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(runs.toSeq == Seq((1L, 31L, 3L, 26L)), runs.mkString(","))
  }

  test("sizedPartitions: estimated bytes over maxPartitionBytes, floored at parallelism") {
    val df = spark.range(0, 20000).selectExpr("id", "repeat('x', 100) AS t")
    val floor = spark.sparkContext.defaultParallelism
    assert(Layout.sizedPartitions(df) == floor)
    val size = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val key = "spark.sql.files.maxPartitionBytes"
    val saved = spark.conf.getOption(key)
    try {
      spark.conf.set(key, (size / (4 * floor)).toString)
      // ceil(size / floor(size / 4p)) is 4p, or 4p + 1 when the split rounds down
      assert(Seq(4 * floor, 4 * floor + 1).contains(Layout.sizedPartitions(df)))
    } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("duplicateRuns on the fixture: every emitted run is byte-equal in both docs") {
    val runs = Dedup.duplicateRuns(docs, "doc_id", col("text"), k = 40, minRunLen = 80)
    val t1 = docs.select(col("doc_id").as("d1"), col("text").as("t1"))
    val t2 = docs.select(col("doc_id").as("d2"), col("text").as("t2"))
    val checked = runs.join(t1, "d1").join(t2, "d2")
      .select(col("t1").substr(col("start1"), col("run_len")) ===
              col("t2").substr(col("start2"), col("run_len")))
      .collect().map(_.getBoolean(0))
    assert(checked.nonEmpty, "fixture contains near-duplicate docs with long shared runs")
    assert(checked.forall(identity))
  }

  // ------------------------------------------------------ incremental dedup

  test("incrementalNearDups: delta probes the corpus, corpus pairs never emitted") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog today"), // corpus-internal dup: NOT our job
      (3L, "completely unrelated content about something else entirely")
    ).toDF("doc_id", "text")
    val delta = Seq(
      (100L, "the quick brown fox jumps over the lazy dog today"), // exact copy of 1 and 2
      (101L, "the quick brown fox jumps over the lazy dog yesterday"), // near-dup
      (102L, "no overlap with anything in the corpus at all here")
    ).toDF("doc_id", "text")
    val out = Dedup.incrementalNearDups(corpus, delta, "doc_id", col("text"), 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.contains((100L, 1L)) && out.contains((100L, 2L)), out.toString)
    assert(out.contains((101L, 1L)), "near-dup above threshold must surface")
    assert(!out.exists(_._1 == 102L), "unrelated delta doc matches nothing")
    assert(out.forall(p => p._1 >= 100L && p._2 < 100L),
      "pairs are always (delta, corpus) — never corpus-internal")
  }

  test("incrementalNearDups at threshold 1.0 == equal-shingle-set pairs (the oracle regime)") {
    val corpus = docs.filter(size(Dedup.wordShingles(col("text"), 3)) > 0)
    val delta = corpus.filter(pmod(col("doc_id"), lit(7)) === 0)
      .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
    val got = Dedup.incrementalNearDups(corpus, delta, "doc_id", col("text"), 3, 1.0)
      .select("id_d", "id_c").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute-force truth: equal distinct-shingle sets
    val sc = corpus.select(col("doc_id").as("id_c"),
      array_sort(Dedup.wordShingles(col("text"), 3)).as("g_c"))
    val sd = delta.select(col("doc_id").as("id_d"),
      array_sort(Dedup.wordShingles(col("text"), 3)).as("g_d"))
    val expected = sd.join(sc, col("g_d") === col("g_c"))
      .select("id_d", "id_c").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected)
    assert(got.nonEmpty, "every delta doc matches at least its own source")
  }

  // ------------------------------------------------------ n-gram LM

  test("ngramModel log-probs: continuations of a prefix sum to ~probability 1") {
    val model = TextAnalysis.ngramModel(docs, col("text"), n = 3)
    val sums = model
      .groupBy(col("g").substr(1, 2).as("pre"))
      .agg(sum(exp(col("logp_micro").cast("double") / lit(1e6))).as("psum"))
      .select("psum").collect().map(_.getDouble(0))
    assert(sums.nonEmpty)
    assert(sums.forall(s => s > 0.999 && s < 1.001),
      s"worst prefixes: ${sums.filterNot(s => s > 0.999 && s < 1.001).take(3).mkString(",")}")
  }

  test("ngramScoreSelf == the retired fused (checkpointed) form — the r17 flip changed cost, not results") {
    // round 17 made the two-pass composition THE shipped ngramScoreSelf
    // (TextPplDecompose: the fused form's corpus-scale checkpoint was
    // its entire scale term). This pins the flip's no-result-change
    // claim against the retired form, rebuilt inline as the strawman.
    val dg = graft.operators.Checkpoints.checkpoint(
      docs.select(col("doc_id"), explode(TextAnalysis.charGrams(col("text"), 3)).as("g"))
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c")))
    val counts = dg.groupBy(col("g")).agg(sum(col("c")).as("cg"))
    val prefix = counts.groupBy(col("g").substr(1, 2).as("pre"))
      .agg(sum(col("cg")).as("cp"))
    val model = counts.join(prefix, col("g").substr(1, 2) === col("pre"))
      .select(col("g"),
        round(log(col("cg").cast("double") / col("cp").cast("double")) * 1e6)
          .cast("long").as("logp_micro"))
    val fused = dg.join(broadcast(model), "g")
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_grams"),
        sum(col("c") * col("logp_micro")).as("logp_sum_micro"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    graft.operators.Checkpoints.release(dg)
    val shipped = TextAnalysis.ngramScoreSelf(docs, "doc_id", col("text"), n = 3)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(shipped == fused)
  }

  test("ngramLogProb is partitioning-invariant (exact integer scores)") {
    val model = TextAnalysis.ngramModel(docs, col("text"), n = 3)
    def run(d: org.apache.spark.sql.DataFrame) =
      TextAnalysis.ngramLogProb(d, "doc_id", col("text"), model, n = 3)
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val a = run(docs)
    val b = run(docs.repartition(13))
    assert(a == b)
    assert(a.values.forall(_._2 < 0L), "log-probs are negative micro-nats")
  }

  test("charEntropy: uniform text maximal, constant text zero, exact fields") {
    import spark.implicits._
    val d = Seq((1L, "aaaa"), (2L, "abcd"), (3L, "aabb")).toDF("id", "text")
    val r = d.select(col("id"), TextAnalysis.charEntropy(col("text")).as("e"))
      .select(col("id"), col("e.n_cp"), col("e.ent_sum_micro"))
      .collect().map(x => (x.getLong(0), (x.getLong(1), x.getLong(2)))).toMap
    assert(r(1L) == (4L, 0L))                     // ln(1) = 0: zero entropy
    assert(r(2L) == (4L, 4L * -1386294L))         // 4 chars at p=1/4: ln(.25)·1e6 ≈ -1386294
    assert(r(3L) == (4L, 4L * -693147L))          // p=1/2: ln(.5)·1e6 ≈ -693147
    // entropy in nats = -sum/1e6/n: uniform 4-char alphabet = ln(4)
    assert(math.abs(-r(2L)._2 / 1e6 / 4 - math.log(4)) < 1e-5)
  }

  // ------------------------------------------------------ pagerank

  test("pageRank: fixed-point ranks on a known graph") {
    import spark.implicits._
    // 1 -> 2, 1 -> 3, 2 -> 3: rank(3) > rank(2) > rank(1) after any rounds
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("src", "dst")
    val r = Graph.pageRank(e, iterations = 2).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toMap
    // hand-computed with scale=1e6, d=850/1000, DIV truncation:
    // iter1: r(1)=150000, r(2)=150000+850*500000/1000=575000, r(3)=150000+850*(500000+1000000)/1000=1425000
    // iter2: contrib(1)=150000/2=75000 to each of 2,3; contrib(2)=575000
    //        r(1)=150000, r(2)=150000+850*75000 DIV 1000=213750, r(3)=150000+(850*(75000+575000)) DIV 1000=702500
    assert(r == Map(1L -> 150000L, 2L -> 213750L, 3L -> 702500L), r.toString)
  }

  test("pageRank is partitioning-invariant and mass-sane on the fixture graph") {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val edges = li.select(col("l_suppkey").as("src"),
      (col("l_partkey") + lit(1000000L)).as("dst")).distinct()
    def run(e: org.apache.spark.sql.DataFrame) =
      Graph.pageRank(e, iterations = 3).collect()
        .map(x => (x.getLong(0), x.getLong(1))).toMap
    val a = run(edges)
    val b = run(edges.repartition(17))
    assert(a == b, "integer ranks must not depend on partitioning")
    assert(a.values.forall(_ >= 150000L), "every node keeps the base mass")
    // suppliers (sources, no in-edges) sit at exactly the base
    val supp = a.keys.filter(_ < 1000000L)
    assert(supp.nonEmpty && supp.forall(a(_) == 150000L))
  }

  // ------------------------------------------------------ int8 quantization

  test("int8QuantStats: exact invariants on known vectors") {
    import spark.implicits._
    val d = Seq(
      (1L, Seq(127.0f, -127.0f, 0.0f)),   // scale 1: codes 127,-127,0
      (2L, Seq(0.0f, 0.0f)),              // zero vector: scale 0, zero codes
      (3L, Seq(1.0f, 0.5f))               // scale 1/127: codes 127, 64 (0.5·127=63.5 → 64)
    ).toDF("vec_id", "embedding")
    val r = Similarity.int8QuantStats(d)
      .collect().map(x => (x.getLong(0), (x.getDouble(1), x.getLong(2), x.getLong(3)))).toMap
    assert(r(1L) == ((1.0, 0L, 2L * 127 * 127)))
    assert(r(2L) == ((0.0, 0L, 0L)))
    assert(r(3L)._2 == 127L + 64L && r(3L)._3 == 127L * 127 + 64L * 64)
    // non-finite vectors yield SQL NULL, never a task throw
    val nan = Seq((9L, Seq(Float.NaN, 1.0f))).toDF("vec_id", "embedding")
    assert(Similarity.int8QuantStats(nan).filter(col("scale").isNull).count() == 1L)
    // max quantized magnitude is 127 by construction: q_norm2 <= n·127²
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val viol = Similarity.int8QuantStats(emb)
      .filter(col("q_norm2") > lit(64L * 127 * 127)).count()
    assert(viol == 0L)
  }

  // ------------------------------------------------------ resample

  test("resampleLocf: gaps zero-filled, values carried forward, buckets exact") {
    import spark.implicits._
    // key A: events in buckets 0 and 3 (gap at 1, 2); key B: single bucket
    val d = Seq(
      ("A", 100L, 1.5), ("A", 200L, 2.5), // bucket 0 (step 1000): last = 2.5
      ("A", 3100L, 9.0),                  // bucket 3
      ("B", 5500L, 7.0)                   // bucket 5
    ).toDF("k0", "t0", "v0")
    val out = Relational.resampleLocf(d, col("k0"), col("t0"), col("v0"), 1000L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(x => (x._1, x._2))
    assert(out.toSeq == Seq(
      ("A", 0L, 2L, 2.5), ("A", 1L, 0L, 2.5), ("A", 2L, 0L, 2.5), ("A", 3L, 1L, 9.0),
      ("B", 5L, 1L, 7.0)), out.mkString(","))
  }

  test("resampleLocf: equal-timestamp ties resolve by value, deterministically") {
    import spark.implicits._
    val d = Seq(("A", 100L, 1.0), ("A", 100L, 4.0), ("A", 100L, 2.0)).toDF("k0", "t0", "v0")
    def run(df: org.apache.spark.sql.DataFrame) =
      Relational.resampleLocf(df, col("k0"), col("t0"), col("v0"), 1000L)
        .collect().map(r => r.getDouble(3)).toSeq
    assert(run(d) == Seq(4.0) && run(d.repartition(5)) == Seq(4.0))
  }

  // ------------------------------------------------------ z-order

  test("property: CharGramHashes(i) == xxhash64 of CharGrams(i); zValue2 deinterleaves") {
    import spark.implicits._
    val rng = new scala.util.Random(42)
    val texts = Seq.tabulate(50)(i =>
      (i.toLong, rng.alphanumeric.take(5 + rng.nextInt(60)).mkString + "é汉" * rng.nextInt(3)))
    val d = texts.toDF("id", "text")
    val bad = d.select(
        TextAnalysis.charGrams(col("text"), 7).as("gs"),
        org.apache.spark.sql.graft.ColumnBridge.column(graft.functions.CharGramHashes(
          org.apache.spark.sql.graft.ColumnBridge.expression(col("text")), 7)).as("hs"))
      .select(explode(arrays_zip(col("gs"), col("hs"))).as("z"))
      .filter(xxhash64(col("z.gs")) =!= col("z.hs"))
      .count()
    assert(bad == 0L, "position-aligned gram hashes must equal xxhash64 of the gram text")
    // z-order: extracting even/odd bits recovers the quantized inputs
    val pts = Seq.tabulate(200)(_ => (rng.nextInt(65536).toLong, rng.nextInt(65536).toLong))
    val pz = pts.toDF("x", "y").select(col("x"), col("y"),
      Layout.zValue2(col("x"), col("y")).as("z")).collect()
    pz.foreach { r =>
      val (x, y, z) = (r.getLong(0), r.getLong(1), r.getLong(2))
      var rx = 0L; var ry = 0L
      for (i <- 0 until 16) {
        rx |= ((z >> (2 * i)) & 1L) << i
        ry |= ((z >> (2 * i + 1)) & 1L) << i
      }
      assert(rx == x && ry == y, s"deinterleave($z) gave ($rx,$ry), want ($x,$y)")
    }
  }

  test("zValue2 interleaves bits (known Morton codes)") {
    import spark.implicits._
    val d = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L), (65535L, 0L), (0L, 65535L))
      .toDF("x", "y")
    val got = d.select(Layout.zValue2(col("x"), col("y"))).collect().map(_.getLong(0)).toSeq
    assert(got == Seq(0L, 1L, 2L, 3L, 0x55555555L, 0xAAAAAAAAL), got.mkString(","))
  }

  test("zorderBy: every output partition covers a narrow rectangle in both keys") {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_partkey").as("x"), col("l_suppkey").as("y"))
    val mx = li.agg(max("x").as("mp"), max("y").as("ms"))
    val q = li.crossJoin(broadcast(mx))
      .select(expr("(x * 65536) DIV (mp + 1)").as("x"), expr("(y * 65536) DIV (ms + 1)").as("y"))
    val parts = Layout.zorderBy(q, col("x"), col("y"), partitions = 16)
      .withColumn("pid", spark_partition_id())
      .groupBy("pid")
      .agg((max("x") - min("x")).as("sx"), (max("y") - min("y")).as("sy"),
        count(lit(1)).as("n"))
      .filter(col("n") > 100) // locality claim is about the populated partitions
      .collect()
    assert(parts.nonEmpty)
    // a single-column sort would leave the OTHER dimension spanning the full
    // 65536 domain in EVERY partition; z-order keeps both spans narrow in
    // most partitions (sample-based range boundaries are not bit-aligned,
    // so a partition straddling a high-bit flip may still span wide —
    // that's why the strong per-bucket claim lives on the ALIGNED
    // z-prefix buckets of the rel_zorder oracle query)
    val narrow = parts.count(r => r.getLong(1) <= 32768L && r.getLong(2) <= 32768L)
    assert(narrow * 4 >= parts.length * 3,
      s"only $narrow/${parts.length} partitions are narrow: " +
        parts.map(r => s"(x=${r.getLong(1)},y=${r.getLong(2)})").mkString(","))
  }
}
