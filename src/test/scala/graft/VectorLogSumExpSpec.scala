package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.VectorLogSumExp
import graft.pipeline.{RelationScorer, Stages}
import graft.sources.Pages

/** A9 vector form: element-wise logsumexp pooling over mention vectors. */
class VectorLogSumExpSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def exactLse(vs: Seq[Seq[Double]]): Seq[Double] = {
    val n = vs.map(_.length).max
    (0 until n).map { d =>
      val xs = vs.filter(_.length > d).map(_(d))
      val m = xs.max
      m + math.log(xs.map(x => math.exp(x - m)).sum)
    }
  }

  test("merge safety: any split/merge tree equals the single-pass fold") {
    val rng = new scala.util.Random(7)
    val vecs = Seq.fill(64)(Seq.fill(8)(rng.nextDouble() * 40 - 20))
    val direct = vecs.foldLeft(VectorLogSumExp.zero)(VectorLogSumExp.reduce)
    for (seed <- 1 to 10) {
      val r = new scala.util.Random(seed)
      // random partitioning into 1..8 chunks, each reduced then merged in
      // shuffled order — the shapes Spark's partial aggregation produces
      val chunks = vecs.grouped(1 + r.nextInt(16)).toSeq
      val partials = r.shuffle(chunks.map(_.foldLeft(VectorLogSumExp.zero)(VectorLogSumExp.reduce)))
      val merged = partials.foldLeft(VectorLogSumExp.zero)(VectorLogSumExp.merge)
      val (a, b) = (VectorLogSumExp.finish(merged), VectorLogSumExp.finish(direct))
      a.zip(b).foreach { case (x, y) => assert(math.abs(x - y) < 1e-9, s"seed $seed") }
    }
    // and the fold agrees with the exact driver-side formula
    VectorLogSumExp.finish(direct).zip(exactLse(vecs)).foreach {
      case (x, y) => assert(math.abs(x - y) < 1e-9)
    }
  }

  test("ragged widths: missing dimensions behave as -inf contributions") {
    val vecs = Seq(Seq(1.0), Seq(2.0, 3.0), Seq(0.5, -1.0, 4.0))
    val got = VectorLogSumExp.finish(
      vecs.foldLeft(VectorLogSumExp.zero)(VectorLogSumExp.reduce))
    val want = exactLse(vecs)
    got.zip(want).foreach { case (x, y) => assert(math.abs(x - y) < 1e-9) }
  }

  test("distributed pooling equals driver-side exact computation") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val rows = for (k <- 0 until 6; _ <- 0 until 20)
      yield (k.toLong, Seq.fill(4)(rng.nextDouble() * 10 - 5))
    val df = rows.toDF("k", "vec").repartition(8)
    val got = df.groupBy("k").agg(RelationScorer.lsePool(col("vec")).as("pool"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val want = rows.groupBy(_._1).map { case (k, vs) => k -> exactLse(vs.map(_._2)) }
    for ((k, w) <- want; (x, y) <- got(k).zip(w))
      assert(math.abs(x - y) < 1e-9, s"key $k")
  }

  test("pooled kernel == scalar kernel under fixture weights (wPool = 0)") {
    val pages = Pages.fromDocuments(spark, "/root/testdata/sf0.001")
    val linked = Stages.linkedFast(Stages.mentionsKernel(pages, spark), spark)
    val scalar = RelationScorer.extractKernelFused(pages, spark)
      .select("doc_id", "subj", "pred", "obj").distinct()
    val pooled = RelationScorer.scorePooled(
      RelationScorer.pooledPairFeatures(linked).filter(col("n_cooc") >= 1), spark)
      .select("doc_id", "subj", "pred", "obj").distinct()
    assert(pooled.exceptAll(scalar).count() == 0)
    assert(scalar.exceptAll(pooled).count() == 0)
    // pooled vectors are real: non-trivial width and finite values
    val pools = RelationScorer.pooledPairFeatures(linked)
      .select(col("h_pool")).limit(5).collect().map(_.getSeq[Double](0))
    assert(pools.nonEmpty && pools.forall(p => p.length == 3 && p.forall(v => !v.isNaN)))
  }
}
