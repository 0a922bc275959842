package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.{Canonicalize, Stages}
import graft.sources.Pages

object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

/** Reference data invariants as unit tests (SURVEY §5: the reference's inline
  * asserts, e.g. pair count n·(n−1), ATLOP+KIRE/prepro.py:157). */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sfDir = "/root/testdata/sf0.001"

  lazy val pages = Pages.fromDocuments(spark, sfDir).cache()
  lazy val linked = Stages.linkedFast(Stages.mentionsKernel(pages, spark), spark).cache()

  test("pages: per-row invariant — text column equals extractor output over html") {
    val drift = pages.filter(
      Pages.extractUdf(col("html")) =!= col("text")).count()
    assert(drift == 0)
  }

  test("pair count per (doc, sent) is exactly n·(n−1)") {
    val nEnts = linked.select("doc_id", "sent_id", "qid").distinct()
      .groupBy("doc_id", "sent_id").agg(count(lit(1)).as("n"))
    val nPairs = Stages.pairs(linked)
      .groupBy("doc_id", "sent_id").agg(count(lit(1)).as("np"))
    val bad = nEnts.join(nPairs, Seq("doc_id", "sent_id"), "left")
      .withColumn("np", coalesce(col("np"), lit(0)))
      .filter(col("np") =!= col("n") * (col("n") - 1))
      .count()
    assert(bad == 0)
  }

  test("entity linking: prio rule and intra-tier tie rule") {
    val types = Map("Q11" -> "MISC", "Q12" -> "ORG", "Q15" -> "ORG", "Q16" -> "LOC")
    val got = Stages.resolveAliasEntries(
      Seq(("scan", "Q12", 1), ("scan", "Q11", 0), ("batch", "Q16", 1), ("batch", "Q15", 1)),
      types)
    // prio collision: Q11 (prio 0) beats Q12 (prio 1) whatever the order;
    // intra-tier tie: min qid among Q15/Q16; the winner's type rides along
    assert(got == Seq(("batch", "Q15", "ORG"), ("scan", "Q11", "MISC")))
    // the Gazetteer fixture resolves the same way
    val fixture = Stages.resolvedAliases.map(r => r._1 -> r._2).toMap
    assert(fixture("scan") == "Q11" && fixture("batch") == "Q15")
    // a type-less winner defaults to MISC, unless strict
    assert(Stages.resolveAliasEntries(Seq(("x", "Q99", 0)), types) ==
      Seq(("x", "Q99", "MISC")))
    val e = intercept[IllegalArgumentException](
      Stages.resolveAliasEntries(Seq(("x", "Q99", 0)), types, strict = true))
    assert(e.getMessage.contains("Q99"))
  }

  test("one qid per alias, so per-document canonicalization is the identity") {
    // TripleExtraction.run writes the kernel rows without Canonicalize: if
    // linking ever returns candidate sets, this fails and the runner must
    // canonicalize again
    val aliases = Stages.resolvedAliases.map(_._1)
    assert(aliases.nonEmpty && aliases.distinct.size == aliases.size)
    val dwie = docred.DocRED.asPages(docred.DocRED.read(spark,
      getClass.getResource("/dwie_fixture.jsonl").getPath))
    Seq(pages, dwie).foreach { p =>
      val m = Canonicalize.mapping(
        Stages.linkedFast(Stages.mentionsKernel(p, spark), spark), spark).cache()
      assert(m.count() > 0)
      assert(m.filter(col("eid") =!= col("canonical")).count() == 0)
      m.unpersist()
    }
  }

  test("no self-pairs, triples are distinct") {
    val t = Stages.extractTriplesKernel(pages, spark).cache()
    assert(t.count() > 0)
    assert(t.filter(col("subj") === col("obj")).count() == 0)
    assert(t.count() == t.distinct().count())
  }

  test("driver contract: entry() returns rows; every query has a fn") {
    assert(SparkEntry.entry(spark).count() > 0)
    // every oracle entry must reference an existing query
    val qs = SparkEntry.queries.keySet
    val orphans = SparkEntry.oracleSql.keySet -- qs
    assert(orphans.isEmpty, s"oracle without query: $orphans")
  }

  test("mentions stage is fully in-row: no joins, no shuffle at all") {
    import spark.implicits._
    // hermetic in-memory input isolates the stage plan from ingest repartition
    val raw = Seq((1L, "spark uses hash join on the table")).toDF("doc_id", "text")
    for (df <- Seq(Stages.mentionsKernel(raw, spark), Stages.extractTriplesKernel(raw, spark))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
      assert(!plan.contains("Join"), s"unexpected join:\n$plan")
    }
  }
}
