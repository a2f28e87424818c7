package graft.checkpoint

import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.nio.file.StandardOpenOption.{CREATE, READ, WRITE}

import graft.JsonLine

/** Checkpointed partition manifest for resumable validation runs
  * (north-star requirement: "resumes from a checkpointed manifest of
  * completed Iceberg partitions carrying per-partition lineage
  * (snapshot-id, file list) and metrics").
  *
  * Format: one [[graft.JsonLine]] object per line (append-only JSONL) —
  * `{"partition":"3","rows":N,"violations":M,"pass":true,
  *   "snapshot_id":"...","files":[...],"completed_at_ms":T}`, read back
  * with Jackson: a missing key reads as empty/0/false, a value of the
  * wrong JSON type fails loudly, and an unknown key, nested or not, is
  * ignored.
  * A commit appends its one line, so P commits write O(P) bytes; a
  * re-marked partition appends again, and the last line per partition
  * wins. The violations parquet is written (and committed by Spark's
  * output committer) BEFORE the manifest line is appended, so a crash
  * never records a partition whose violations were not fully emitted
  * (SURVEY.md §7.4 hard part 5). A crash mid-append leaves a torn tail —
  * a last line without its `\n`: that commit never finished, so
  * [[load]] ignores it and the next [[markComplete]] truncates it away.
  *
  * Resume = anti-filter: partitions present in the manifest are skipped;
  * everything else reprocesses. Idempotent because each partition's
  * outputs go to a partition-scoped directory overwritten on rerun.
  */
object Manifest {

  final case class Entry(
      partition: String, rows: Long, violations: Long, pass: Boolean,
      snapshotId: String, files: Seq[String], completedAtMs: Long)

  final case class State(entries: Map[String, Entry]) {
    def isComplete(partition: String): Boolean = entries.contains(partition)
  }

  def empty: State = State(Map.empty)

  /** Every complete line, the last one per partition winning; a torn
    * tail is left out and a malformed complete line fails loudly. */
  def load(path: String): State = {
    val p = Paths.get(path)
    if (!Files.exists(p)) return empty
    val bytes = Files.readAllBytes(p)
    val committed = new String(bytes, 0, bytes.lastIndexOf('\n'.toByte) + 1, StandardCharsets.UTF_8)
    State(committed.split('\n').iterator.filter(_.trim.nonEmpty).map(parseLine)
      .map(e => e.partition -> e).toMap)
  }

  /** Append one completed partition's line in a single write, after
    * truncating a torn tail left by an unfinished commit. */
  def markComplete(
      path: String, partition: String, rows: Long, violations: Long, pass: Boolean,
      snapshotId: String = "", files: Seq[String] = Nil): Unit = synchronized {
    val line = render(Entry(partition, rows, violations, pass, snapshotId, files,
      System.currentTimeMillis())) + "\n"
    val p = Paths.get(path)
    Option(p.getParent).foreach(Files.createDirectories(_))
    val ch = FileChannel.open(p, CREATE, READ, WRITE)
    try {
      // the committed prefix ends at the last '\n': read back from the
      // end, so only a torn tail is ever read
      val last = ByteBuffer.allocate(1)
      var end = ch.size()
      while (end > 0 && { last.clear(); ch.read(last, end - 1); last.get(0) != '\n' }) end -= 1
      ch.truncate(end)
      val buf = ByteBuffer.wrap(line.getBytes(StandardCharsets.UTF_8))
      while (buf.hasRemaining) ch.write(buf, end + buf.position())
    } finally ch.close()
  }

  private def render(e: Entry): String =
    JsonLine("partition" -> e.partition, "rows" -> e.rows, "violations" -> e.violations,
      "pass" -> e.pass, "snapshot_id" -> e.snapshotId, "files" -> e.files,
      "completed_at_ms" -> e.completedAtMs)

  /** One manifest line, by [[JsonLine.read]]'s typed reads. */
  private[checkpoint] def parseLine(line: String): Entry = {
    val f = JsonLine.read(line)
    Entry(f.string("partition"), f.long("rows"), f.long("violations"), f.boolean("pass"),
      f.string("snapshot_id"), f.strings("files"), f.long("completed_at_ms"))
  }
}
