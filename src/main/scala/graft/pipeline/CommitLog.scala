package graft.pipeline

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardOpenOption}
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

/** The append-only JSON-lines commit log behind both manifests: the
  * runner's `_lineage.jsonl` and the snapshot build's `_kg_manifest.jsonl`.
  * A record is one line, appended only after the data it describes is
  * durable, so a crash can at worst leave a torn last line. Readers accept
  * a line only when the WHOLE line matches the writer's record shape: a
  * torn record (or two records run together) is never half-read, never
  * stitched, and its work is replayed idempotently by the caller. */
private[pipeline] object CommitLog {

  /** Append `record` as one line. A torn tail (a previous append cut
    * before its newline) is first closed with a newline, so the fragment
    * stays on its own rejected line and this record starts a fresh one;
    * an intact log gets exactly `record + "\n"`. */
  def append(path: Path, record: String): Unit = {
    val prefix = if (tornTail(path)) "\n" else ""
    Files.write(path, (prefix + record + "\n").getBytes(UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }

  /** The capture groups of every line that `line` matches in full (Scala's
    * `Regex` extractor is anchored at both ends); other lines are skipped. */
  def read(path: Path, line: Regex): Seq[List[String]] =
    if (!Files.exists(path)) Nil
    else Files.readAllLines(path, UTF_8).asScala.toSeq.flatMap(l => line.unapplySeq(l))

  private def tornTail(path: Path): Boolean = Files.exists(path) && {
    val ch = Files.newByteChannel(path)
    try ch.size > 0 && {
      val last = ByteBuffer.allocate(1)
      ch.position(ch.size - 1).read(last)
      last.get(0) != '\n'
    } finally ch.close()
  }
}
