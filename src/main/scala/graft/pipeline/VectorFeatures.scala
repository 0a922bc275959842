package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The token→mention→entity VECTOR chain — the data-parallel half of the
  * reference's encoder stack, re-expressed relationally:
  *
  *  - A10 token→mention pooling: mention vector = mean of its span's token
  *    vectors (`GLRE+KIRE/models/basemodel.py:73-88`);
  *  - A11 sentence-node pooling: sentence vector = mean over sentence
  *    tokens (`GLRE+KIRE/models/glre.py:170-173`);
  *  - M3 uniform span weights `1/len(hlist)/(end−start)` — the h_mapping /
  *    t_mapping construction (`B4+KIRE/config/Config.py:378-393`,
  *    `ATLOP+KIRE/data/gen_coref_data.py:21-24`);
  *  - M6 `norm_mask` — the row-normalized span mask
  *    (`SSAN+KIRE/dataset.py:30-35`); A10's mean IS a norm_mask·tokens
  *    product, pinned in VectorFeaturesSpec;
  *  - A14 batch max-length — the per-batch padding bound
  *    (`ATLOP+KIRE/utils.py:15`, `GLRE+KIRE/data/converter.py:63-68`),
  *    exercised by the batched kernel below together with W6
  *    length-sorting;
  *  - the chain feeds A9's logsumexp entity pooling
  *    (`RelationScorer.scorePooled`), replacing its geometry
  *    pseudo-embedding with REAL pooled token vectors.
  *
  * Token embedding: component d of token t is `hexdigit_d(md5(t)) − 80`
  * (an integer in [−32, 22]) — a deterministic stand-in for a pretrained
  * matrix (the reference's GloVe/`vec.npy`, `GLRE+KIRE/data/loader.py:
  * 242-281`; the .npy load→broadcast path itself is S9/q_npy_scan). Chosen
  * because BOTH engines reproduce it exactly (`md5` + char arithmetic), so
  * span SUMS are integer-exact and oracle-pinned in DuckDB
  * (q_sentence_vecs, q_mention_vecs); the float means/normalizations on
  * top are pinned by specs against independent driver-side arithmetic.
  *
  * Scale shape: everything before the entity groupBy is IN-ROW (the token
  * axis never explodes into a shuffle); md5 is evaluated ONCE per token via
  * the single-element-transform let-binding (interpreted HOFs have no CSE).
  */
object VectorFeatures {

  val Dims = 8

  /** SQL fragment: token expr → array<bigint> of Dims md5-digit components,
    * with the md5 string bound once (not once per dim). */
  private def tokVecSql(t: String): String =
    s"element_at(transform(array(md5($t)), m -> " +
      s"transform(sequence(0, ${Dims - 1}), d -> " +
      s"CAST(ascii(substring(m, d + 1, 1)) - 80 AS BIGINT))), 1)"

  /** Element-wise span sum: `aggregate` over a token array, md5 once per
    * token, zero extra rows. */
  private def spanSumSql(arr: String): String =
    s"aggregate($arr, array_repeat(CAST(0 AS BIGINT), $Dims), " +
      s"(acc, t) -> zip_with(acc, ${tokVecSql("t")}, (a, b) -> a + b))"

  /** Driver/kernel twin of the token embedding (same md5, same arithmetic). */
  def tokenVec(tok: String): Array[Long] = {
    val m = java.security.MessageDigest.getInstance("MD5")
      .digest(tok.getBytes("UTF-8")).map("%02x".format(_)).mkString
    Array.tabulate(Dims)(d => (m.charAt(d) - 80).toLong)
  }

  /** Allocation-light hot-loop variant: adds token components into `out`
    * reusing one MessageDigest, reading nibbles straight off the digest
    * bytes (hex char code − 80 ≡ nibble − 32 for 0-9, nibble + 7 for a-f). */
  private def addTokenComps(md: java.security.MessageDigest, tok: String,
                            out: Array[Long]): Unit = {
    md.reset()
    val dig = md.digest(tok.getBytes("UTF-8"))
    var d = 0
    while (d < Dims) {
      val b = dig(d >> 1) & 0xFF
      val nib = if ((d & 1) == 0) b >>> 4 else b & 0xF
      out(d) += (if (nib < 10) nib - 32 else nib + 7)
      d += 1
    }
  }

  /** Doc-embedding width: all 32 md5 hex digits (vs the Dims = 8 of the
    * token chain) — 8 dims cannot separate near-dup short docs from the
    * background (measured: planted-pair min cosine 0.916 vs background max
    * 0.999 at 8 dims; clean 0.93-vs-0.91 separation at 32). */
  val DocDims = 32

  /** Adds all 32 md5 hex-digit components of `tok` into `out` —
    * the DocDims-wide sibling of `addTokenComps`. */
  private def addTokenComps32(md: java.security.MessageDigest, tok: String,
                              out: Array[Long]): Unit = {
    md.reset()
    val dig = md.digest(tok.getBytes("UTF-8"))
    var d = 0
    while (d < DocDims) {
      val b = dig(d >> 1) & 0xFF
      val nib = if ((d & 1) == 0) b >>> 4 else b & 0xF
      out(d) += (if (nib < 10) nib - 32 else nib + 7)
      d += 1
    }
  }

  /** The pages→vectors bridge: one DocDims-dim embedding per document,
    * feeding `Similarity.cosineNearDups`/`ivfTopK` directly — text →
    * embedding → ANN/near-dup with no fixture table.
    *
    * Component d = (DocDims·s_d − Σ_d' s_d') / n_toks, where s_d is the
    * whole-doc sum of md5-digit token components (the same deterministic
    * token embedding as the A10/A11 chain, at full md5 width):
    *  - SUBTRACTING the cross-dim total removes the shared token-count
    *    direction (every raw sum vector points near n·μ·(1,…,1), so
    *    uncentered cosines are all ≈ 1 and discriminate nothing);
    *  - DIVIDING by n_toks makes components O(token range) regardless of
    *    document length, so the downstream quantized BIGINT norms can
    *    never overflow on a long document (raw sums at 10⁵ tokens would
    *    put q² ≈ 10²⁷ past the int64 dot product).
    * Integer-exact until the one IEEE division, which DuckDB replays
    * bit-identically (q_text_neardup). In-row, zero shuffle. */
  def docVectorsKernel(pages: DataFrame, spark: SparkSession): DataFrame = {
    import spark.implicits._
    pages.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (docId, text) =>
          val toks = text.split(" ", -1)
          val s = new Array[Long](DocDims)
          var i = 0
          while (i < toks.length) { addTokenComps32(md, toks(i), s); i += 1 }
          var st = 0L
          var d = 0
          while (d < DocDims) { st += s(d); d += 1 }
          val emb = Array.tabulate(DocDims)(d =>
            (DocDims * s(d) - st).toDouble / toks.length)
          (docId, emb.toSeq)
        }
      }.toDF("vec_id", "embedding")
  }

  /** A11: per-sentence token-vector sums — (doc_id, sent_id, dim,
    * comp_sum, n_toks). Integer-exact (oracle q_sentence_vecs); the
    * sentence MEAN is comp_sum / n_toks. One digest and four byte reads per
    * token, over the mention kernels' sentence splitter
    * (`Stages.docSentenceSpans`) — in-row, no shuffle. */
  def sentenceVectorsKernel(pages: DataFrame, spark: SparkSession): DataFrame = {
    import spark.implicits._
    pages.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (docId, text) =>
          val toks = text.split(" ", -1)
          Stages.docSentenceSpans(toks).iterator.zipWithIndex.flatMap {
            case ((st, en), sid) =>
              val sums = new Array[Long](Dims)
              var p = st
              while (p <= en) { addTokenComps(md, toks(p), sums); p += 1 }
              (0 until Dims).iterator.map(d =>
                (docId, sid, d, sums(d), en - st + 1))
          }
        }
      }.toDF("doc_id", "sent_id", "dim", "comp_sum", "n_toks")
  }

  /** Linked mentions joined with their doc's token array plus the span
    * slice — the shared prefix of every mention-vector variant (ONE place
    * owns the tokenization and the +1/inclusive span convention). */
  private def withSpanToks(linked: DataFrame, pages: DataFrame): DataFrame =
    linked.join(pages.select(col("doc_id"), split(col("text"), " ").as("toks")), Seq("doc_id"))
      .withColumn("span_toks", expr("slice(toks, pos_start + 1, pos_end - pos_start + 1)"))

  /** A10 (sums): per linked mention, the span's token-vector sums —
    * (doc_id, sent_id, pos_start, pos_end, qid, dim, comp_sum, span_len).
    * The mention MEAN (A10 proper) is comp_sum / span_len — equal to the
    * M6 norm_mask · tokens product (spec). The per-doc token array joins
    * once on doc_id (co-partitioned equi-join; pages are the unit of
    * parallelism at any scale). */
  def mentionVectors(linked: DataFrame, pages: DataFrame): DataFrame =
    withSpanToks(linked, pages)
      .withColumn("comp_sums", expr(spanSumSql("span_toks")))
      .select(col("doc_id"), col("sent_id"), col("pos_start"), col("pos_end"), col("qid"),
        posexplode(col("comp_sums")).as(Seq("dim", "comp_sum")),
        (col("pos_end") - col("pos_start") + 1).as("span_len"))
      .select(col("doc_id"), col("sent_id"), col("pos_start"), col("pos_end"), col("qid"),
        col("dim").cast("int").as("dim"), col("comp_sum"), col("span_len"))

  /** M6 `norm_mask` (`SSAN+KIRE/dataset.py:30-35`): a length-`len` mask,
    * 1/(end−start+1) inside the inclusive token span, 0 outside — each row
    * sums to exactly 1. */
  def normMask(len: Column, start: Column, end: Column): Column =
    transform(sequence(lit(0), len - 1), t =>
      when(t >= start && t <= end,
        lit(1.0) / (end - start + 1).cast("double")).otherwise(lit(0.0)))

  /** A10 via M6: mention mean vector computed as the norm_mask · token
    * matrix product over the FULL token axis (the reference's mapping-matrix
    * formulation) — spec-pinned equal to comp_sums / span_len. Showcase
    * shape (O(L·Dims) per mention); production uses the span slice above. */
  def mentionMeanVecsMasked(linked: DataFrame, pages: DataFrame): DataFrame =
    withSpanToks(linked, pages)
      .withColumn("mask", normMask(size(col("toks")), col("pos_start"), col("pos_end")))
      .withColumn("mean_vec", expr(
        s"transform(sequence(0, ${Dims - 1}), d -> " +
          "aggregate(zip_with(mask, toks, (w, t) -> " +
          "w * (ascii(substring(md5(t), d + 1, 1)) - 80)), CAST(0 AS DOUBLE), (a, v) -> a + v))"))
      .select(col("doc_id"), col("qid"), col("pos_start"), col("pos_end"), col("mean_vec"))

  /** Mention mean vectors (production span-slice shape): one row per linked
    * mention with its Dims-dim mean vector. */
  def mentionMeanVecs(linked: DataFrame, pages: DataFrame): DataFrame =
    withSpanToks(linked, pages)
      .withColumn("comp_sums", expr(spanSumSql("span_toks")))
      .withColumn("mean_vec", expr(
        "transform(comp_sums, s -> CAST(s AS DOUBLE) / (pos_end - pos_start + 1))"))
      .select(col("doc_id"), col("sent_id"), col("qid"), col("ner_type"),
        col("pos_start"), col("pos_end"), col("mean_vec"))

  /** M3: entity span representation with the reference's uniform weights
    * w = 1/len(hlist)/(end−start) — algebraically the mean of the entity's
    * mention means, computed here with the weight EXPLICIT (each mention
    * mean scaled by 1/n_mentions, then summed). */
  def entitySpanReps(mentionMeans: DataFrame): DataFrame = {
    val perEntity = mentionMeans.groupBy(col("doc_id"), col("qid"))
      .agg(collect_list(col("mean_vec")).as("mvecs"))
    perEntity.withColumn("rep", expr(
      s"""transform(sequence(0, ${Dims - 1}), d ->
            aggregate(mvecs, CAST(0 AS DOUBLE),
              (acc, m) -> acc + element_at(m, d + 1) / size(mvecs)))"""))
      .select(col("doc_id"), col("qid"), size(col("mvecs")).as("n_mentions"), col("rep"))
  }

  case class MentionSpan(doc_id: Long, qid: String, pos_start: Int,
                         pos_end: Int, span_toks: Seq[String])
  case class BatchedMean(doc_id: Long, qid: String, pos_start: Int,
                         pos_end: Int, mean_vec: Seq[Double], pad_cells: Int)

  /** A14 + W6: the batched mention-encoder kernel shape. mapPartitions
    * groups mentions into batches of `batchSize`; each batch pads its token
    * matrix to the BATCH max span length (A14 — `max(len)` per batch, the
    * reference's collate_fn/concat_examples bound), runs the pooled mean
    * over the padded matrix (zero-vector padding, true-length divisor — so
    * padding NEVER changes results, pinned in VectorFeaturesSpec), and
    * reports its padding waste. `lengthSorted` applies W6: sorting spans by
    * descending length within the partition groups like-length mentions
    * into the same batch, provably shrinking total pad_cells. */
  def mentionMeanVecsBatched(linked: DataFrame, pages: DataFrame,
                             spark: SparkSession, batchSize: Int = 64,
                             lengthSorted: Boolean = false): DataFrame = {
    import spark.implicits._
    val spans = withSpanToks(linked, pages)
      .select(col("doc_id"), col("qid"), col("pos_start"), col("pos_end"), col("span_toks"))
      .as[MentionSpan]
    val ordered =
      if (lengthSorted) spans.sortWithinPartitions(size(col("span_toks")).desc)
      else spans
    ordered.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        val maxLen = batch.iterator.map(_.span_toks.length).max // A14
        batch.iterator.map { m =>
          val n = m.span_toks.length
          // padded row: positions n until maxLen hold the zero vector —
          // walking the FULL padded axis is deliberate (the batch-tensor
          // shape); zeros cannot move the sum, n divides
          val sums = new Array[Long](Dims)
          var i = 0
          while (i < maxLen) {
            if (i < n) {
              val v = tokenVec(m.span_toks(i))
              var d = 0
              while (d < Dims) { sums(d) += v(d); d += 1 }
            }
            i += 1
          }
          BatchedMean(m.doc_id, m.qid, m.pos_start, m.pos_end,
            sums.map(_.toDouble / n).toSeq, maxLen - n)
        }
      }
    }.toDF()
  }

  /** The A9 chain made real: pooled pair features whose entity vectors are
    * VectorLogSumExp over REAL mention mean vectors (A10 output) instead of
    * the geometry pseudo-embedding — token → mention (A10/M6) → entity (A9)
    * → pair scoring (`RelationScorer.scorePooled`) is one genuine dataflow. */
  def pooledPairFeaturesReal(linked: DataFrame, pages: DataFrame): DataFrame =
    RelationScorer.pooledPairFeaturesFromMvec(
      mentionMeanVecs(linked, pages)
        .withColumnRenamed("mean_vec", "mvec"))
}
