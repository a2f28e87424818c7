package graft.checkpoint

import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.nio.file.StandardOpenOption.{CREATE, READ, WRITE}

/** Checkpointed partition manifest for resumable validation runs
  * (north-star requirement: "resumes from a checkpointed manifest of
  * completed Iceberg partitions carrying per-partition lineage
  * (snapshot-id, file list) and metrics").
  *
  * Format: one JSON object per line (append-only JSONL) —
  * `{"partition":"3","rows":N,"violations":M,"pass":true,
  *   "snapshot_id":"...","files":[...],"completed_at_ms":T}`.
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

  /** JSON string body. Control characters and surrogates go out as
    * `\uXXXX`, so any Java string — a lone surrogate included — survives
    * the UTF-8 file and comes back from [[parseLine]] unchanged. */
  private[graft] def esc(s: String): String =
    s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' || Character.isSurrogate(c) => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  private def render(e: Entry): String = {
    val fs = e.files.map(f => "\"" + esc(f) + "\"").mkString("[", ",", "]")
    s"""{"partition":"${esc(e.partition)}","rows":${e.rows},"violations":${e.violations},""" +
      s""""pass":${e.pass},"snapshot_id":"${esc(e.snapshotId)}","files":$fs,""" +
      s""""completed_at_ms":${e.completedAtMs}}"""
  }

  /** Parser for our own flat shape (no external deps): one string-aware
    * pass over the line, so a quote, `],` or `":"` inside a name cannot
    * end a value early, and every escape [[esc]] writes is undone. A
    * missing key reads as empty/0/false; a malformed line fails loudly. */
  private[checkpoint] def parseLine(line: String): Entry = {
    var i = 0
    def fail(what: String): Nothing =
      throw new IllegalArgumentException(s"manifest: $what at column $i of: $line")
    def peek: Char = {
      while (i < line.length && line(i).isWhitespace) i += 1
      if (i < line.length) line(i) else fail("unexpected end")
    }
    def expect(c: Char): Unit = { if (peek != c) fail(s"expected '$c'"); i += 1 }
    def string(): String = {
      expect('"')
      val sb = new java.lang.StringBuilder
      while (i < line.length && line(i) != '"') {
        if (line(i) == '\\' && i + 1 < line.length) {
          i += 1
          line(i) match {
            case 'n' => sb.append('\n')
            case 'r' => sb.append('\r')
            case 't' => sb.append('\t')
            case 'u' if i + 4 < line.length =>
              sb.append(Integer.parseInt(line.substring(i + 1, i + 5), 16).toChar)
              i += 4
            case c => sb.append(c) // \" \\ \/
          }
        } else sb.append(line(i))
        i += 1
      }
      if (i >= line.length) fail("unterminated string")
      i += 1
      sb.toString
    }
    def list(): Seq[String] = {
      expect('[')
      val b = Seq.newBuilder[String]
      if (peek == ']') i += 1
      else {
        b += string()
        while (peek == ',') { i += 1; b += string() }
        expect(']')
      }
      b.result()
    }
    def value(): Any = peek match {
      case '"' => string()
      case '[' => list()
      case _ =>
        val start = i
        while (i < line.length && line(i) != ',' && line(i) != '}') i += 1
        line.substring(start, i).trim match {
          case "true"  => true
          case "false" => false
          case t => t.toLongOption.getOrElse(fail(s"bad literal '$t'"))
        }
    }
    val fields = scala.collection.mutable.Map.empty[String, Any]
    expect('{')
    if (peek == '}') i += 1
    else {
      var more = true
      while (more) {
        val key = string()
        expect(':')
        fields(key) = value()
        more = peek == ','
        if (more) i += 1
      }
      expect('}')
    }
    def str(key: String) = fields.get(key).collect { case s: String => s }.getOrElse("")
    def num(key: String) = fields.get(key).collect { case l: Long => l }.getOrElse(0L)
    Entry(str("partition"), num("rows"), num("violations"),
      fields.get("pass").contains(true), str("snapshot_id"),
      fields.get("files").collect { case fs: Seq[_] => fs.map(_.toString) }.getOrElse(Nil),
      num("completed_at_ms"))
  }
}
