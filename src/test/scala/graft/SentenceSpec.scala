package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.Stages

/** Pins the sentence-splitter rule (T7 substitute) and the multi-token
  * mention semantics (T9/J8): sliding-window phrase match, matches confined
  * to one sentence, longest-match-wins containment suppression, partial
  * overlaps kept. */
class SentenceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def sents(text: String): Seq[(Int, Int, Int, Seq[String])] = {
    val toks = text.split(" ", -1)
    Stages.docSentenceSpans(toks).toSeq.zipWithIndex.map { case ((st, en), sid) =>
      (sid, st, en, toks.slice(st, en + 1).toSeq)
    }
  }

  private def ments(text: String): Set[(Int, Int, String)] = {
    import spark.implicits._
    Stages.mentionsKernel(Seq((1L, text)).toDF("doc_id", "text"), spark)
      .collect()
      .map(r => (r.getInt(r.fieldIndex("pos_start")), r.getInt(r.fieldIndex("pos_end")),
        r.getString(r.fieldIndex("alias")))).toSet
  }

  test("terminal punctuation closes a sentence") {
    assert(sents("a b c. d e") == Seq(
      (0, 0, 2, Seq("a", "b", "c.")),
      (1, 3, 4, Seq("d", "e"))))
    assert(sents("one! two? three; four.") == Seq(
      (0, 0, 0, Seq("one!")),
      (1, 1, 1, Seq("two?")),
      (2, 2, 2, Seq("three;")),
      (3, 3, 3, Seq("four."))))
  }

  test("abbreviations do not close a sentence") {
    // "dr." and "u.s." end in '.' but are post-fixed as non-boundaries
    assert(sents("dr. smith met x. y z") == Seq(
      (0, 0, 3, Seq("dr.", "smith", "met", "x.")),
      (1, 4, 5, Seq("y", "z"))))
    assert(sents("in the u.s. market. prices rose") == Seq(
      (0, 0, 3, Seq("in", "the", "u.s.", "market.")),
      (1, 4, 5, Seq("prices", "rose"))))
    // case-insensitive: "Dr." behaves like "dr."; and the mention kernel
    // splits the same way
    assert(sents("Dr. who arrived. then left") == Seq(
      (0, 0, 2, Seq("Dr.", "who", "arrived.")),
      (1, 3, 4, Seq("then", "left"))))
    import spark.implicits._
    val df = Seq((1L, "dr. spark met hash. join u.s. merge")).toDF("doc_id", "text")
    val ker = Stages.mentionsKernel(df, spark).collect()
      .map(r => (r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4))).toSet
    // "hash." closes the sentence, so "join" opens sentence 1; "u.s." does
    // not close it, so "merge" shares sentence 1 with "join"
    assert(ker == Set((0, 1, 1, "spark"), (1, 4, 4, "join"), (1, 6, 6, "merge")))
  }

  test("punctuation-less run-ons are capped at SentenceChunk tokens") {
    val toks36 = (0 until 36).map(i => s"w$i").mkString(" ")
    val got = sents(toks36)
    assert(got.map(_._4.size) == Seq(16, 16, 4))
    assert(got.map(s => (s._2, s._3)) == Seq((0, 15), (16, 31), (32, 35)))
    // the cap applies per punctuation segment, not per doc
    val mixed = sents("a. " + (0 until 18).map(i => s"w$i").mkString(" "))
    assert(mixed.map(_._4.size) == Seq(1, 16, 2))
  }

  test("longest match suppresses strictly contained matches") {
    // "sort merge join" ⊃ "merge join", "sort", "merge", "join"
    assert(ments("spark uses sort merge join here") ==
      Set((0, 0, "spark"), (2, 4, "sort merge join")))
    // standalone inner aliases still match elsewhere
    assert(ments("merge join beats hash join and merge") ==
      Set((0, 1, "merge join"), (3, 4, "hash join"), (6, 6, "merge")))
  }

  test("partially overlapping maximal matches both survive") {
    assert(ments("merge join order") ==
      Set((0, 1, "merge join"), (1, 2, "join order")))
  }

  test("matches never cross sentence boundaries") {
    // punctuation boundary: "hash." is not the alias "hash", and the phrase
    // window cannot straddle the boundary
    assert(ments("hash. join runs") == Set((1, 1, "join")))
    // chunk-cap boundary: "hash" ends chunk 0 (pos 15), "join" starts chunk 1
    val filler = (0 until 15).map(i => s"f$i").mkString(" ")
    assert(ments(s"$filler hash join") ==
      Set((15, 15, "hash"), (16, 16, "join")))
  }

  test("span counts in linked output survive linking") {
    import spark.implicits._
    val df = Seq((7L, "customer runs sort merge join on table scan")).toDF("doc_id", "text")
    val got = Stages.linkedFast(Stages.mentionsKernel(df, spark), spark)
      .select("alias", "qid", "pos_start", "pos_end").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getInt(3))).toSet
    assert(got == Set(
      ("customer", "Q4", 0, 0),
      ("sort merge join", "Q31", 2, 4),
      ("table scan", "Q33", 6, 7)))
  }
}
