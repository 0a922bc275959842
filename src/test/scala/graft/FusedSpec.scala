package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.{RelationScorer, Stages}
import graft.sources.Pages

/** The mapPartitions extraction kernels on hand-built inputs with exact
  * expected rows (punctuated multi-sentence text, multi-word aliases, the
  * chunk boundary, duplicated doc_id), and the scored kernel against the
  * relational `pairFeatures` + `score` path the eval queries use. */
class FusedSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sfDir = "/root/testdata/sf0.001"

  private def tripleSet(df: DataFrame): Set[(Long, String, String, String)] =
    df.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3))).toSet

  test("extractTriplesKernel on multi-sentence and chunk-boundary text: exact triples") {
    import spark.implicits._
    val tricky = Seq(
      (1L, "spark uses sort merge join. customer likes merge join order."),
      (2L, "hash. join table scan batch"),
      // "hash" ends chunk 0 (pos 15), "join" opens chunk 1: no pair
      (3L, (0 until 40).map(i => if (i == 15) "hash" else if (i == 16) "join" else "x").mkString(" ")),
      // spark (Q1) in sentences {0, 0, 2}, merge (Q3) in {0, 1, 2}
      (4L, "spark meets spark at merge now. merge stays. spark and merge end"))
      .toDF("doc_id", "text")
    // "join." and "order." carry the period, so they match no alias
    assert(tripleSet(Stages.extractTriplesKernel(tricky, spark)) == Set(
      (1L, "Q1", "P361", "Q14"), (1L, "Q1", "P361", "Q3"),
      (1L, "Q14", "P361", "Q1"), (1L, "Q14", "P361", "Q3"),
      (1L, "Q3", "P361", "Q1"), (1L, "Q3", "P361", "Q14"),
      (1L, "Q4", "P800", "Q32"),
      (2L, "Q10", "P127", "Q15"), (2L, "Q33", "P1441", "Q10"),
      (4L, "Q1", "P361", "Q3"), (4L, "Q3", "P361", "Q1")))
    // the scored kernel's pair arithmetic on doc 4: n_cooc is the multiset
    // count c_h·c_t summed per shared sentence (2·1 + 1·1 = 3), the minimum
    // sentence distance is 0, and evidence is the sorted distinct shared
    // sentences — score = +2 rule base + 0.1·log1p(3) ≈ 2.1386
    val pair = RelationScorer.extractKernelFused(tricky, spark)
      .filter(col("doc_id") === 4L && col("subj") === "Q1" && col("obj") === "Q3")
      .collect()
    assert(pair.length == 1 && pair.head.getAs[String]("pred") == "P361")
    assert(pair.head.getAs[Double]("score") == 2.0 + 0.1 * math.log1p(3.0))
    assert(pair.head.getAs[collection.Seq[Int]]("evidence") == Seq(0, 2))
  }

  test("duplicate doc_id input: the kernel emits every triple once per input row") {
    import spark.implicits._
    // the kernel's unique-doc_id PRECONDITION made explicit: same doc_id
    // twice → each triple twice; an explicit distinct restores the set
    val dup = Seq((1L, "spark joins customer table"),
                  (1L, "spark joins customer table")).toDF("doc_id", "text")
    val k = Stages.extractTriplesKernel(dup, spark)
    assert(k.distinct().count() > 0 && k.count() == 2 * k.distinct().count())
  }

  test("mentionsKernel on multi-sentence text with overlapping aliases: exact mentions") {
    import spark.implicits._
    val tricky = Seq(
      (1L, "spark uses sort merge join. merge join order here."),
      (2L, "hash. join table scan batch"))
      .toDF("doc_id", "text")
    val got = Stages.mentionsKernel(tricky, spark).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4))).toSet
    assert(got == Set(
      (1L, 0, 0, 0, "spark"), (1L, 0, 2, 2, "sort"), (1L, 0, 3, 3, "merge"),
      (1L, 1, 5, 6, "merge join"), (1L, 1, 6, 7, "join order"),
      (2L, 1, 1, 1, "join"), (2L, 1, 2, 3, "table scan"), (2L, 1, 4, 4, "batch")))
  }

  test("fused scored kernel == staged pairFeatures+score path, row for row") {
    val pages = Pages.fromDocuments(spark, sfDir).cache()
    val linked = Stages.linkedFast(Stages.mentionsKernel(pages, spark), spark)
    val staged = RelationScorer.score(
        RelationScorer.pairFeatures(linked).filter(col("n_cooc") >= 1), spark)
      .select(col("doc_id"), col("subj"), col("pred"), col("obj"),
        col("score"), col("evidence").cast("string"))
    val fused = RelationScorer.extractKernelFused(pages, spark)
      .select(col("doc_id"), col("subj"), col("pred"), col("obj"),
        col("score"), col("evidence").cast("string"))
    assert(fused.exceptAll(staged).count() == 0)
    assert(staged.exceptAll(fused).count() == 0)
    // and the fused plan has no Exchange at all (scored triples stream
    // straight from the page scan to the sink) — raw in-memory pages so the
    // assert sees pipeline topology, not the cached ingest lineage
    import spark.implicits._
    val raw = Seq((1L, "spark joins customer table")).toDF("doc_id", "text")
    val plan = RelationScorer.extractKernelFused(raw, spark)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"fused scorer must not shuffle:\n$plan")
  }
}
