package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.checkpoint.Manifest

/** Checkpoint-manifest semantics: atomic completion records, lineage
  * round-trip, resume anti-filter (SURVEY.md §5e). The end-to-end
  * kill-and-resume flow is exercised through graft.cli.Main (see
  * .claude/skills/verify/SKILL.md). */
class ManifestSpec extends AnyFunSuite {

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_mf").toString + "/manifest.jsonl"

  test("round-trip: markComplete then load preserves lineage + metrics") {
    val p = tmp()
    Manifest.markComplete(p, "3", rows = 1000, violations = 7, pass = false,
      snapshotId = "snap-42", files = Seq("f1.parquet", "f2.parquet"))
    val st = Manifest.load(p)
    assert(st.isComplete("3"))
    assert(!st.isComplete("4"))
    val e = st.entries("3")
    assert(e.rows === 1000 && e.violations === 7 && !e.pass)
    assert(e.snapshotId === "snap-42")
    assert(e.files === Seq("f1.parquet", "f2.parquet"))
  }

  test("re-marking a partition overwrites its entry (idempotent rerun)") {
    val p = tmp()
    Manifest.markComplete(p, "0", 10, 1, pass = false)
    Manifest.markComplete(p, "0", 10, 0, pass = true)
    val st = Manifest.load(p)
    assert(st.entries.size === 1)
    assert(st.entries("0").pass)
  }

  test("resume anti-filter: only absent partitions remain") {
    val p = tmp()
    Seq("0", "1", "2").foreach(Manifest.markComplete(p, _, 5, 0, pass = true))
    val st = Manifest.load(p)
    val todo = (0 to 5).map(_.toString).filterNot(st.isComplete)
    assert(todo === Seq("3", "4", "5"))
  }

  test("append-only: after N commits the file is the N rendered lines in commit order") {
    import java.nio.file.{Files, Paths}
    val p = tmp()
    val parts = Seq("2", "0", "1", "0", "7")
    var before = ""
    parts.zipWithIndex.foreach { case (part, i) =>
      Manifest.markComplete(p, part, rows = 10L + i, violations = i, pass = i == 0,
        snapshotId = s"snap-$i", files = Seq(s"part_bucket=$part/f$i.parquet"))
      val now = Files.readString(Paths.get(p))
      // each commit appends exactly one complete line and rewrites nothing
      assert(now.startsWith(before) && now.endsWith("\n"))
      assert(now.substring(before.length).count(_ == '\n') === 1)
      before = now
    }
    val lines = before.split('\n').toSeq
    assert(lines.length === parts.length)
    lines.zip(parts).zipWithIndex.foreach { case ((line, part), i) =>
      assert(line.startsWith(s"""{"partition":"$part","rows":${10 + i},"violations":$i,""" +
        s""""pass":${i == 0},"snapshot_id":"snap-$i","files":["part_bucket=$part/f$i.parquet"],"""), line)
    }
    // the re-marked partition reads back as its LAST line
    val st = Manifest.load(p)
    assert(st.entries.keySet === Set("0", "1", "2", "7"))
    assert(st.entries("0").snapshotId === "snap-3" && st.entries("0").violations === 3L)
  }

  test("torn tail: load ignores an unfinished last line and the next commit repairs it") {
    import java.nio.file.{Files, Paths, StandardOpenOption}
    val p = tmp()
    Manifest.markComplete(p, "0", 5, 0, pass = true)
    Manifest.markComplete(p, "1", 5, 1, pass = false)
    val committed = Files.readString(Paths.get(p))
    // a crash mid-append: the line for partition 2 never got its newline
    Files.writeString(Paths.get(p), """{"partition":"2","rows":5,"viol""",
      StandardOpenOption.APPEND)
    assert(Manifest.load(p).entries.keySet === Set("0", "1"))
    Manifest.markComplete(p, "3", 5, 0, pass = true)
    val repaired = Files.readString(Paths.get(p))
    assert(repaired.startsWith(committed) && !repaired.contains("\"partition\":\"2\""))
    assert(repaired.substring(committed.length).startsWith("{\"partition\":\"3\""))
    assert(Manifest.load(p).entries.keySet === Set("0", "1", "3"))
    // a malformed COMPLETE line is damage, not a torn commit: it fails loudly
    Files.writeString(Paths.get(p), "not json\n", StandardOpenOption.APPEND)
    intercept[IllegalArgumentException](Manifest.load(p))
  }

  test("missing manifest file loads as empty (fresh run)") {
    assert(Manifest.load("/nonexistent/manifest.jsonl").entries.isEmpty)
  }

  test("escaping: partitions and files with quotes/backslashes survive") {
    val p = tmp()
    Manifest.markComplete(p, """part"weird\name""", 1, 0, pass = true,
      files = Seq("""a"b\c.parquet"""))
    val st = Manifest.load(p)
    assert(st.isComplete("""part"weird\name"""))
    assert(st.entries("""part"weird\name""").files === Seq("""a"b\c.parquet"""))
  }

  test("property: arbitrary partition, snapshot and file names round-trip exactly") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // JSON-hostile pieces, control chars, non-ASCII, lone and paired
    // surrogates, and raw chars anywhere in the BMP
    val piece: Gen[String] = Gen.frequency(
      3 -> Gen.oneOf("\"", "\\", "],", "\",\"", "\":\"", "[", "]", "{", "}", ",",
        "\\\"", "\\u0041", "\n", "\r", "\t", "\u0000", "\u001f", "\u007f",
        "é", "日本", "\ud83d\ude00", "\ud800", "\udfff", " "),
      2 -> Gen.alphaNumStr.map(_.take(6)),
      2 -> Gen.choose(Char.MinValue, Char.MaxValue).map(_.toString))
    val name: Gen[String] = Gen.choose(0, 8).flatMap(Gen.listOfN(_, piece)).map(_.mkString)
    val gen = for {
      parts <- Gen.choose(1, 5).flatMap(Gen.listOfN(_, name))
      snap <- name
      files <- Gen.choose(0, 4).flatMap(Gen.listOfN(_, name))
    } yield (parts.distinct, snap, files)
    (0 until 60).flatMap(i => gen.apply(Gen.Parameters.default, Seed(i.toLong))).foreach {
      case (parts, snap, files) =>
        val p = tmp()
        parts.zipWithIndex.foreach { case (part, i) =>
          Manifest.markComplete(p, part, rows = i, violations = 1, pass = i % 2 == 0,
            snapshotId = snap, files = files)
        }
        val st = Manifest.load(p)
        assert(st.entries.keySet === parts.toSet, s"parts=$parts")
        parts.zipWithIndex.foreach { case (part, i) =>
          val e = st.entries(part)
          assert((e.rows, e.violations, e.pass) === ((i.toLong, 1L, i % 2 == 0)))
          assert(e.snapshotId === snap && e.files === files, s"part=$part files=$files")
        }
    }
  }

  test("one rendered manifest line, pinned byte for byte") {
    import java.nio.file.{Files, Paths}
    val p = tmp()
    Manifest.markComplete(p, "3", rows = 1000, violations = 7, pass = false,
      snapshotId = "snap-42", files = Seq("f1.parquet", "a\"b\\c\n.parquet"))
    val line = Files.readString(Paths.get(p))
    val stamp = line.substring(line.lastIndexOf(':') + 1, line.length - 2)
    assert(stamp.nonEmpty && stamp.forall(_.isDigit), line)
    assert(line === """{"partition":"3","rows":1000,"violations":7,"pass":false,""" +
      """"snapshot_id":"snap-42","files":["f1.parquet","a\"b\\c\n.parquet"],""" +
      s""""completed_at_ms":$stamp}""" + "\n")
  }

  test("a manifest written by the earlier renderer loads to the same entries") {
    import java.nio.file.{Files, Paths}
    val p = tmp()
    // two lines as the hand-built renderer wrote them (the second one
    // re-marks partition 0), then a torn tail
    Files.writeString(Paths.get(p),
      """{"partition":"0","rows":10,"violations":1,"pass":false,"snapshot_id":"scan-1",""" +
      """"files":["part_bucket=0/a.parquet"],"completed_at_ms":1700000000000}""" + "\n" +
      """{"partition":"w\"e\\ird\n""" + "\\u0001\\ud800" + """","rows":3,"violations":0,"pass":true,""" +
      """"snapshot_id":"","files":[],"completed_at_ms":1700000000001}""" + "\n" +
      """{"partition":"0","rows":10,"violations":0,"pass":true,"snapshot_id":"scan-2",""" +
      """"files":["part_bucket=0/a.parquet","part_bucket=0/b.parquet"],"completed_at_ms":1700000000002}""" +
      "\n" + """{"partition":"1","ro""")
    assert(Manifest.load(p).entries === Map(
      "0" -> Manifest.Entry("0", 10, 0, pass = true, "scan-2",
        Seq("part_bucket=0/a.parquet", "part_bucket=0/b.parquet"), 1700000000002L),
      "w\"e\\ird\n\u0001\ud800" -> Manifest.Entry("w\"e\\ird\n\u0001\ud800", 3, 0, pass = true, "",
        Nil, 1700000000001L)))
  }

  test("a complete line with a wrong-typed field or trailing junk fails loudly") {
    import java.nio.file.{Files, Paths}
    for (bad <- Seq(
        """{"partition":"0","rows":"3","violations":0,"pass":true}""",
        """{"partition":"0","rows":1.5}""",
        """{"partition":0,"rows":3}""",
        """{"partition":"0","pass":"true"}""",
        """{"partition":"0","files":["a",1]}""",
        """{"partition":"0","files":"a"}""",
        """{"partition":"0","rows":3} {"partition":"1"}""",
        """{"partition":"0","rows":3}x""")) {
      val p = tmp()
      Manifest.markComplete(p, "9", 1, 0, pass = true)
      Files.writeString(Paths.get(p), bad + "\n", java.nio.file.StandardOpenOption.APPEND)
      intercept[IllegalArgumentException](Manifest.load(p))
    }
    // a missing key still reads as empty/0/false, and an unknown one,
    // nested or not, is ignored
    val p = tmp()
    Files.writeString(Paths.get(p),
      """{"partition":"5","lineage":[{"path":"a","size":1,"mtime":2}],"metrics":{"gc_ms":3}}""" + "\n")
    assert(Manifest.load(p).entries === Map("5" -> Manifest.Entry("5", 0, 0, pass = false, "", Nil, 0)))
  }

  test("esc: CLI JSON lines stay valid for quotes, backslashes and control characters") {
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    for (v <- Seq("""C:\snap""", "say \"hi\"", "tab\tnew\nline\u0001bell", "/tmp/graft/seq")) {
      val line = s"""{"mode":"drift-check","path":"${JsonLine.esc(v)}"}"""
      assert(json.readTree(line).get("path").asText() === v, line)
    }
    // ordinary values print byte-identical: the partition lines keep {"partition":"7",...}
    assert(JsonLine.esc("7") === "7" && JsonLine.esc("/tmp/graft/seq") === "/tmp/graft/seq")
  }
}
