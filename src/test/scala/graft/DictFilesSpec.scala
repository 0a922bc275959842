package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.kb.{Gazetteer, SyntheticDict}
import graft.pipeline.Stages
import graft.sources.{DictFiles, Pages}

/** S5/S6 file-backed dictionary ingest at reference scale: format
  * fidelity (entityLabel2WikidataId.txt / .nt3), two-tier resolution
  * across files, and kernel equivalence — a file dict containing exactly
  * the Gazetteer must reproduce the literal-dict extraction row for row,
  * and the 63k dict must flow through the same broadcast kernels. */
class DictFilesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(name: String, content: String): String = {
    val p = java.nio.file.Files.createTempDirectory("graft_dict").resolve(name)
    java.nio.file.Files.writeString(p, content)
    p.toString
  }

  test("aliasTsv: uri split, handleLabel normalization, short-line skip") {
    val path = tmp("a.tsv",
      "Sort-Merge Join\thttp://www.wikidata.org/entity/Q31\n" +
        "U.S. Open\tQ77\n" + // bare id (no uri) stays as-is
        "incomplete-line\n" + // < 2 fields: skipped
        "plain\thttp://a/b/Q55\n")
    val got = DictFiles.aliasTsv(spark, path).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    // handleLabel: '-'→' ', drop '.', lowercase (gen_kg_data.py:92-94)
    assert(got == Set(
      ("sort merge join", "Q31", 0),
      ("us open", "Q77", 0),
      ("plain", "Q55", 0)))
  }

  test("labelDump .nt3: swapped columns, prio 1, short-line skip") {
    val path = tmp("b.nt3", "Q7\tData-Stream\nQ9\n\nQ8\ttable\n")
    val got = DictFiles.labelDump(spark, path).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    assert(got == Set(("data stream", "Q7", 1), ("table", "Q8", 1)))
  }

  test("kgTriplesNt3: 3-field lines only, order preserved per row") {
    SyntheticDict.write()
    val kg = DictFiles.kgTriplesNt3(spark, SyntheticDict.kgPath)
    val got = kg.collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    // every Gazetteer triple survives; the malformed "Q1" line is skipped;
    // the 50 synthetic live-entity edges are present
    assert(Gazetteer.kgTriples.toSet.subsetOf(got))
    assert(got.size == Gazetteer.kgTriples.size + 50)
    assert(got.contains((SyntheticDict.liveQid(0), "P361", "Q1")))
  }

  test("two-tier resolution ACROSS files matches the Gazetteer rule") {
    SyntheticDict.write()
    val entries = DictFiles.loadAliasEntries(spark,
      SyntheticDict.tsvPath, SyntheticDict.nt3Path)
    assert(entries.size > 62000, s"expected reference-scale dict, got ${entries.size}")
    val resolved = Stages.resolveAliasEntries(entries, Gazetteer.entityTypes.toMap)
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // cross-file prio: "scan" tier-0 Q11 beats tier-1 Q12
    assert(resolved("scan") == (("Q11", "MISC")))
    // intra-tier collision vs a synthetic bigram: Q30 < Q910xxx keeps Q30
    assert(resolved("hash join") == (("Q30", "MISC")))
    // tier-0 synthetic bigram beats the Gazetteer's tier-1 "data stream"
    val (dsQid, dsType) = resolved("data stream")
    assert(dsQid.startsWith("Q9") && dsType == "MISC", s"got $dsQid/$dsType")
    // unknown qids default to MISC; known ones keep their Gazetteer type
    assert(resolved("customer") == (("Q4", "PER")))
    assert(resolved(f"synent${0}%05d")._2 == "MISC")
  }

  test("file dict containing exactly the Gazetteer == literal dict, row for row") {
    // write the Gazetteer alone in file formats → the kernels must be
    // bit-identical to the plan-literal path
    val tsv = tmp("gaz.tsv", Gazetteer.aliases.filter(_._3 == 0)
      .map(a => s"${a._1}\thttp://www.wikidata.org/entity/${a._2}").mkString("\n"))
    val nt3 = tmp("gaz.nt3", Gazetteer.aliases.filter(_._3 == 1)
      .map(a => s"${a._2}\t${a._1}").mkString("\n"))
    val resolved = Stages.resolveAliasEntries(
      DictFiles.loadAliasEntries(spark, tsv, nt3), Gazetteer.entityTypes.toMap)
    assert(resolved == Stages.resolvedAliases,
      "file-ingested Gazetteer must resolve identically to the constants")
    val pages = Pages.fromDocuments(spark, "/root/testdata/sf0.001")
    val a = Stages.extractTriplesKernel(pages, spark,
      Stages.kernelDictFrom(resolved))
    val b = Stages.extractTriplesKernel(pages, spark)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }

  test("63k dict flows through the kernels: new live-bigram links appear") {
    SyntheticDict.write()
    val resolved = Stages.resolveAliasEntries(
      DictFiles.loadAliasEntries(spark,
        SyntheticDict.tsvPath, SyntheticDict.nt3Path),
      Gazetteer.entityTypes.toMap)
    val pages = Pages.fromDocuments(spark, "/root/testdata/sf0.001")
    val linked = Stages.linkedFast(
      Stages.mentionsKernel(pages, spark, Stages.kernelDictFrom(resolved)),
      spark, resolved).cache()
    // live-bigram entities actually match documents
    assert(linked.filter(col("qid").startsWith("Q91")).count() > 0,
      "63k dict must produce live bigram links")
    // cold synthetics never match (they are probe-cost, not hits)
    assert(linked.filter(col("qid").startsWith("Q81")).count() == 0)
    linked.unpersist()
  }
}
