package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.{TripleExtraction, Canonicalize, Stages}
import graft.sources.Pages
import graft.ops.Skew
import java.nio.file.Files

/** End-to-end runner: lineage, resume-from-checkpoint, canonicalization,
  * and skew salting. */
class RunnerSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sfDir = "/root/testdata/sf0.001"

  test("run writes lineage, resume is a no-op, output matches direct pipeline") {
    val out = Files.createTempDirectory("graft_run").toString
    val pages = Pages.fromDocuments(spark, sfDir)
    val m1 = TripleExtraction.run(pages, out, spark)
    assert(m1.buckets.size == TripleExtraction.NumBuckets)
    assert(m1.docs == 500)
    assert(m1.triples > 0)
    // resume: everything done → nothing replayed
    val m2 = TripleExtraction.run(pages, out, spark)
    assert(m2.buckets.isEmpty && m2.docs == 0)
    // written triples == canonicalized direct pipeline
    val written = spark.read.parquet(s"$out/triples")
      .select("doc_id", "subj", "pred", "obj")
    // the relational feature path (pairFeatures + score), not the runner's
    // fused kernel, so the sink is checked against an independent scorer
    val linked = Stages.linkedFast(Stages.mentionsKernel(pages, spark), spark)
    val direct = Canonicalize(
      pipeline.RelationScorer.score(
          pipeline.RelationScorer.pairFeatures(linked).filter(col("n_cooc") >= 1), spark)
        .select("doc_id", "subj", "pred", "obj"),
      linked, spark)
    assert(written.exceptAll(direct).count() == 0)
    assert(direct.exceptAll(written).count() == 0)
  }

  test("observed counts match written data; crash-resume replays idempotently") {
    val out = Files.createTempDirectory("graft_run3").toString
    val pages = Pages.fromDocuments(spark, sfDir)
    val m1 = TripleExtraction.run(pages, out, spark)
    val written = spark.read.parquet(s"$out/triples")
    val total1 = written.count()
    assert(m1.triples == total1) // Observation metrics == written rows
    // manifest: one row per bucket, per-bucket counts exact, own wall time
    val mp = java.nio.file.Paths.get(out, "_lineage.jsonl")
    val lines = Files.readAllLines(mp)
    assert(lines.size == TripleExtraction.NumBuckets)
    val rx = """\{"bucket":(\d+),"status":"done","n_triples":(\d+),"wall_ms":(\d+)\}""".r
    val manifestCounts = lines.toArray.map { l =>
      val m = rx.findFirstMatchIn(l.toString).get
      m.group(1).toInt -> m.group(2).toLong
    }.toMap
    val actualCounts = written.groupBy("bucket").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    actualCounts.foreach { case (b, n) => assert(manifestCounts(b) == n, s"bucket $b") }
    assert(manifestCounts.values.sum == total1)
    // simulate a crash AFTER the last bucket's parquet write but BEFORE its
    // manifest append: drop the final manifest line, leave its data in place
    Files.write(mp, (lines.toArray.dropRight(1).mkString("\n") + "\n").getBytes)
    val m2 = TripleExtraction.run(pages, out, spark)
    assert(m2.buckets.size == 1)
    // overwrite semantics: the replayed bucket REPLACES, never appends
    assert(spark.read.parquet(s"$out/triples").count() == total1)
  }

  test("injected runner mode == canonicalized injection pipeline, and flips survive sinks") {
    val out = Files.createTempDirectory("graft_inj").toString
    val pages = Pages.fromDocuments(spark, sfDir)
    val m = TripleExtraction.run(pages, out, spark, inject = true)
    assert(m.triples > 0)
    val written = spark.read.parquet(s"$out/triples")
      .select("doc_id", "subj", "pred", "obj")
    val linked = Stages.linkedFast(
      Stages.mentionsKernel(pages, spark), spark).cache()
    val direct = Canonicalize(
      pipeline.KnowledgeInjection.extractInjectedFused(pages, spark)
        .select("doc_id", "subj", "pred", "obj").distinct(),
      linked, spark)
    assert(written.exceptAll(direct).count() == 0 &&
      direct.exceptAll(written).count() == 0)
    // KB-evidenced predicates reach the sink (the injection isn't lost in
    // canonicalization): at least one written pred is KB-suggested-only
    val ruleOnly = graft.kb.Gazetteer.relRules.map(_._3).toSet
    val preds = written.select("pred").distinct().collect().map(_.getString(0)).toSet
    assert((preds -- ruleOnly).nonEmpty, s"no injected predicate survived: $preds")
  }

  test("DWIE corpus flows end-to-end through the runner with its own vocabulary") {
    import graft.docred.{DocRED, Labels}
    import graft.kb.DwieVocab
    val docs = DocRED.read(spark,
      getClass.getResource("/dwie_fixture.jsonl").getPath).cache()
    // (1) the 66-class vocabulary contract: loaded from the dataset's
    // rel2id.json exactly like the reference (fixture analog here)
    val vocab = DwieVocab.fromRel2Id(
      getClass.getResource("/dwie_rel2id.json").getPath)
    assert(vocab.head == "NA" && vocab.contains("based_in0"))
    assert(DwieVocab.NumClasses == 66)
    // (2) gold labels fold over the DWIE vocabulary, not DocRED's
    val lp = Labels.labeledPairs(docs, vocab).collect()
      .map(r => (r.getInt(1), r.getInt(2)) -> r.getSeq[Boolean](4)).toMap
    assert(lp((0, 1)).size == vocab.size)
    assert(lp((0, 1))(vocab.indexOf("based_in0")) && !lp((0, 1))(0))
    assert(lp((1, 0))(0)) // unlabeled direction is NA
    // (3) end-to-end through the production runner: pages adapter →
    // bucketed extraction → lineage manifest → triple partitions
    val out = Files.createTempDirectory("graft_dwie").toString
    val m = TripleExtraction.run(DocRED.asPages(docs), out, spark, lang = Some("en"))
    assert(m.docs == 1 && m.triples > 0)
    val written = spark.read.parquet(s"$out/triples")
      .select("subj", "pred", "obj").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    // sentence 1 ("the table group hosts spark .") links spark(Q1 MISC),
    // table(Q8 ORG), group(Q18 ORG): rules (MISC,ORG)→P127 and
    // (ORG,ORG)→P355 fire over the ordered pairs
    assert(written == Set(
      ("Q1", "P127", "Q8"), ("Q1", "P127", "Q18"),
      ("Q18", "P355", "Q8"), ("Q8", "P355", "Q18")))
    // resume is a no-op, same as the web path
    assert(TripleExtraction.run(DocRED.asPages(docs), out, spark).buckets.isEmpty)
  }

  test("gold slice turns on the post-run metrics block in the lineage manifest") {
    val out = Files.createTempDirectory("graft_runm").toString
    val pages = Pages.fromDocuments(spark, sfDir)
    // gold == the kernel's own raw predictions: the sweep must then find a
    // perfect operating point (p = r = f1 = 1000 permille)
    val gold = pipeline.RelationScorer.extractKernelFused(pages, spark)
      .select("doc_id", "subj", "pred", "obj").distinct().cache()
    val m = TripleExtraction.run(pages, out, spark, gold = Some(gold))
    assert(m.triples > 0)
    val lines = Files.readAllLines(
      java.nio.file.Paths.get(out, "_lineage.jsonl")).toArray.map(_.toString)
    // one metrics line, after every bucket's commit line
    val metrics = lines.filter(_.contains("\"status\":\"metrics\""))
    assert(metrics.length == 1 && lines.last == metrics.head)
    assert(lines.length == TripleExtraction.NumBuckets + 1)
    val mj = metrics.head
    def permille(k: String): Long =
      s""""$k":(\\d+)""".r.findFirstMatchIn(mj).get.group(1).toLong
    assert(permille("p_permille") == 1000, mj)
    assert(permille("r_permille") == 1000, mj)
    assert(permille("f1_permille") == 1000, mj)
    // recall-by-distance: bounded bucket array whose gold mass is the gold set
    val nGold = """"n_gold":(\d+)""".r.findAllMatchIn(mj).map(_.group(1).toLong).toSeq
    assert(nGold.nonEmpty && nGold.sum == gold.count(), mj)
    // resume replays nothing and must NOT append a second metrics block
    assert(TripleExtraction.run(pages, out, spark, gold = Some(gold)).buckets.isEmpty)
    val after = Files.readAllLines(java.nio.file.Paths.get(out, "_lineage.jsonl"))
    assert(after.size == TripleExtraction.NumBuckets + 1)
    gold.unpersist()
  }

  test("partial manifest: only missing buckets are replayed") {
    val out = Files.createTempDirectory("graft_run2").toString
    val pages = Pages.fromDocuments(spark, sfDir)
    // simulate a killed job: mark buckets 0..13 done, 14/15 missing
    val fake = (0 to 13).map(b => s"""{"bucket":$b,"status":"done","n_triples":0,"wall_ms":0}""")
    Files.createDirectories(java.nio.file.Paths.get(out))
    Files.write(java.nio.file.Paths.get(out, "_lineage.jsonl"),
      (fake.mkString("\n") + "\n").getBytes)
    val m = TripleExtraction.run(pages, out, spark)
    assert(m.buckets.sorted == Seq(14, 15))
    // replayed docs are exactly the pages hashing into those buckets
    val expect = pages.withColumn("b", TripleExtraction.bucketOf)
      .filter(col("b").isin(14, 15)).count()
    assert(m.docs == expect)
  }

  test("duplicated page: each of its triples is committed once") {
    val pages = Pages.fromDocuments(spark, sfDir)
    // doc 0 yields triples; its second copy makes the kernel emit each twice
    val dup = pages.union(pages.filter(col("doc_id") === 0L))
    val out = Files.createTempDirectory("graft_dup").toString
    val m = TripleExtraction.run(dup, out, spark)
    assert(m.docs == 501)
    val written = spark.read.parquet(s"$out/triples")
      .select("doc_id", "subj", "pred", "obj")
    val expect = pipeline.RelationScorer.extractKernelFused(pages, spark)
      .select("doc_id", "subj", "pred", "obj").distinct()
    assert(written.filter(col("doc_id") === 0L).count() > 0)
    assert(m.triples == written.count())
    assert(written.exceptAll(expect).count() == 0 && expect.exceptAll(written).count() == 0)
  }

  test("lineage manifest: a torn last line is not a commit and is never appended onto") {
    val out = Files.createTempDirectory("graft_torn").toString
    val pages = Pages.fromDocuments(spark, sfDir)
    val mp = java.nio.file.Paths.get(out, "_lineage.jsonl")
    // a crash mid-append cut bucket 14's record after its done field, with
    // no trailing newline
    val torn = """{"bucket":14,"status":"done","n_tri"""
    val done = (0 to 13).map(b => s"""{"bucket":$b,"status":"done","n_triples":0,"wall_ms":0}""")
    Files.write(mp, (done.mkString("\n") + "\n" + torn).getBytes)
    assert(TripleExtraction.doneBuckets(out) == (0 to 13).toSet)
    assert(TripleExtraction.run(pages, out, spark).buckets.sorted == Seq(14, 15))
    // the fragment stays on its own line; both replayed records parse
    val lines = Files.readAllLines(mp)
    assert(lines.size == 17 && lines.get(14) == torn)
    assert(TripleExtraction.doneBuckets(out) == (0 until 16).toSet)
    assert(TripleExtraction.run(pages, out, spark).buckets.isEmpty)
  }

  test("canonicalize merges aliases linked to the same qid, drops self-loops") {
    import spark.implicits._
    // two aliases in one doc voted to the same qid + a distinct second entity
    val linked = Seq(
      (1L, 0, 0, "spark", "Q1", "MISC"),
      (1L, 0, 2, "sparkle", "Q1", "MISC"),
      (1L, 0, 4, "table", "Q8", "ORG"))
      .toDF("doc_id", "sent_id", "pos_start", "alias", "qid", "ner_type")
    val triples = Seq((1L, "Q1", "P127", "Q8"), (1L, "Q1", "P_x", "Q1"))
      .toDF("doc_id", "subj", "pred", "obj")
    val got = Canonicalize(triples, linked, spark).collect()
    assert(got.length == 1) // self-loop dropped
    assert(got.head.getString(1) == "Q1" && got.head.getString(3) == "Q8")
  }

  test("salted join is row-equivalent to plain join and spreads hot keys") {
    import spark.implicits._
    // Zipfian big side: one hot key with 10k rows, 50 cold keys
    val big = spark.range(10000).select(lit("hot").as("k"), col("id").as("v"))
      .union(spark.range(50).select(concat(lit("cold"), col("id")).as("k"), col("id").as("v")))
    val small = (Seq(("hot", 1)) ++ (0 until 50).map(i => (s"cold$i", i)))
      .toDF("k", "w")
    val hot = Skew.hotKeys(big, "k", 1000)
    assert(hot.count() == 1)
    val plain = big.join(small, "k").select("k", "v", "w")
    val salted = Skew.saltedJoin(big, small, "k", hot, 8).select("k", "v", "w")
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).count() == 0)
  }
}
