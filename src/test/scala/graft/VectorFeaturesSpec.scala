package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.{RelationScorer, Stages, VectorFeatures => VF}
import graft.sources.Pages

/** The token→mention→entity vector chain (A10/A11 pooling, M3 span weights,
  * M6 norm_mask, A14 batch max-length) against independent driver-side
  * arithmetic, plus the A9 integration into the pooled scorer. */
class VectorFeaturesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  val sfDir = "/root/testdata/sf0.001"

  lazy val pages = Pages.fromDocuments(spark, sfDir).cache()
  lazy val linked = Stages.linkedFast(Stages.mentionsKernel(pages, spark), spark).cache()

  test("token embedding: md5-digit components in [-32, 22], engine == driver twin") {
    val toks = Seq("alpha", "Beta", "γ", "", "sort merge join")
    for (t <- toks; c <- VF.tokenVec(t)) assert(c >= -32 && c <= 22)
    // the Spark-side md5/ascii arithmetic must equal the JVM twin
    val viaSpark = toks.toDF("t")
      .select(expr(s"transform(sequence(0, ${VF.Dims - 1}), d -> " +
        "CAST(ascii(substring(md5(t), d + 1, 1)) - 80 AS BIGINT))").as("v"))
      .collect().map(_.getSeq[Long](0).toArray)
    assert(viaSpark.zip(toks.map(VF.tokenVec)).forall { case (a, b) => a.sameElements(b) })
  }

  test("A11 sentence vectors equal driver-side recomputation over the splitter output") {
    val rows = VF.sentenceVectorsKernel(pages, spark).collect()
    val sums = rows
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)) -> (r.getLong(3), r.getInt(4)))
      .toMap
    val docs = pages.select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    assert(docs.nonEmpty)
    var nSents = 0
    docs.foreach { case (doc, text) =>
      val toks = text.split(" ", -1)
      Stages.docSentenceSpans(toks).zipWithIndex.foreach { case ((st, en), sid) =>
        val stoks = toks.slice(st, en + 1).toSeq
        val expect = stoks.map(VF.tokenVec(_).toSeq).transpose.map(_.sum)
        for (d <- 0 until VF.Dims)
          assert(sums((doc, sid, d)) == ((expect(d), stoks.length)),
            s"sentence ($doc, $sid) dim $d mismatch")
        nSents += 1
      }
    }
    // and no extra rows: one per (sentence, dim)
    assert(rows.length == nSents * VF.Dims)
  }

  test("M6 norm_mask rows sum to 1; A10 masked mean == span sums / span_len") {
    // mask algebra on a controlled frame
    val m = Seq((10, 2, 5)).toDF("len", "st", "en")
      .select(VF.normMask(col("len"), col("st"), col("en")).as("mask"))
      .head.getSeq[Double](0)
    assert(m.length == 10 && math.abs(m.sum - 1.0) < 1e-12)
    assert(m.take(2).forall(_ == 0.0) && m.drop(6).forall(_ == 0.0))
    assert(m.slice(2, 6).forall(w => math.abs(w - 0.25) < 1e-12))
    // the mapping-matrix formulation equals the span-slice mean on real data
    val masked = VF.mentionMeanVecsMasked(linked, pages)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3)) -> r.getSeq[Double](4))
      .toMap
    val sliced = VF.mentionMeanVecs(linked, pages)
      .select("doc_id", "qid", "pos_start", "pos_end", "mean_vec").collect()
    assert(sliced.nonEmpty && sliced.length == masked.size)
    sliced.foreach { r =>
      val key = (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3))
      val a = r.getSeq[Double](4); val b = masked(key)
      assert(a.zip(b).forall { case (x, y) => math.abs(x - y) < 1e-9 },
        s"mask-mean vs slice-mean diverge at $key")
    }
  }

  test("M3 entity span rep (1/n_mentions/(span) weights) == mean of mention means") {
    val means = VF.mentionMeanVecs(linked, pages).cache()
    val reps = VF.entitySpanReps(means)
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) -> (r.getInt(2), r.getSeq[Double](3)))
      .toMap
    val byEntity = means.select("doc_id", "qid", "mean_vec").collect()
      .groupBy(r => (r.getLong(0), r.getString(1)))
    assert(byEntity.nonEmpty && byEntity.size == reps.size)
    byEntity.foreach { case (key, rows) =>
      val (n, rep) = reps(key)
      assert(n == rows.length)
      val expect = rows.toSeq.map(_.getSeq[Double](2)).transpose.map(_.sum / rows.length)
      assert(rep.zip(expect).forall { case (x, y) => math.abs(x - y) < 1e-9 })
    }
  }

  test("A14: batch-padded kernel == declarative means; W6 sorting shrinks padding") {
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"), col("qid"), col("pos_start"), col("pos_end"),
        expr(s"transform(mean_vec, x -> CAST(round(x * 1000000) AS BIGINT))").cast("string").as("mv"))
      .collect().map(_.mkString("|")).sorted.toSeq
    val declarative = canon(VF.mentionMeanVecs(linked, pages))
    val unsorted = VF.mentionMeanVecsBatched(linked, pages, spark, batchSize = 16)
    val sorted = VF.mentionMeanVecsBatched(linked, pages, spark,
      batchSize = 16, lengthSorted = true)
    // padding to the batch max length never changes the pooled result
    assert(canon(unsorted) == declarative)
    assert(canon(sorted) == declarative)
    // A14 is live: mixed-length batches actually pad
    val padU = unsorted.agg(sum(col("pad_cells"))).head.getLong(0)
    val padS = sorted.agg(sum(col("pad_cells"))).head.getLong(0)
    assert(padU > 0, "fixture spans are mixed-length — unsorted batches must pad")
    // W6: descending-length sort groups like lengths → strictly less waste
    assert(padS <= padU, s"length-sorted padding $padS must not exceed unsorted $padU")
  }

  test("A9 chain: pooled scorer over REAL token vectors — decode-invariant at wPool=0, live at wPool>0") {
    val feats = VF.pooledPairFeaturesReal(linked, pages)
      .filter(col("n_cooc") >= 1).cache()
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "subj", "pred", "obj", "score").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getDouble(4)))
      .toSet
    val pooled = rows(RelationScorer.scorePooled(feats, spark))
    val scalar = rows(RelationScorer.score(
      RelationScorer.pairFeatures(linked).filter(col("n_cooc") >= 1), spark))
    assert(pooled == scalar, "wPool=0 fixture: pooled decode must equal the scalar kernel")
    // nonzero wPool: the real vectors must actually reach the logits
    val live = rows(RelationScorer.scorePooled(feats, spark,
      RelationScorer.fixtureWeights.copy(wPool = 1e-4)))
    assert(live.map(t => (t._1, t._2, t._3, t._4)) == pooled.map(t => (t._1, t._2, t._3, t._4)),
      "1e-4·dot must not flip any decode on the fixture")
    assert(live != pooled, "pooled vectors must move at least one score")
  }
}
