package graft

import graft.ledger.{FileLedger, LedgerEntry, RunStatus}
import java.nio.file.{Files, Path, StandardCopyOption, StandardOpenOption}
import org.scalatest.funsuite.AnyFunSuite

/** The file ledger's incremental read: each instance indexes what it has
  * read and reads only what was appended since, from any writer, and reads
  * a replaced or truncated file again from the start.
  */
class FileLedgerSpec extends AnyFunSuite {

  private def newPath(): Path =
    Files.createTempDirectory("graft_ledger_inc_").resolve("ledger.jsonl")

  private def done(h: String, status: String = RunStatus.Succeeded) =
    LedgerEntry(h, "t", status)

  /** What `body` printed on stderr. */
  private def stderrOf(body: => Unit): String = {
    val buf = new java.io.ByteArrayOutputStream
    val old = System.err
    System.setErr(new java.io.PrintStream(buf, true, "UTF-8"))
    try body finally System.setErr(old)
    buf.toString("UTF-8")
  }

  test("entries appended through another instance are visible to the next " +
      "get and tryAdmit") {
    val p = newPath()
    val a = new FileLedger(p)
    val b = new FileLedger(p)
    assert(a.get("h1", "t").isEmpty)
    b.put(done("h1"))
    assert(a.get("h1", "t").exists(_.status == RunStatus.Succeeded))
    assert(!a.tryAdmit(done("h1", "")))
    b.put(done("h2", RunStatus.Failed))
    assert(a.tryAdmit(done("h2", "")))
    assert(b.get("h2", "t").exists(_.status == ""))
    b.put(done("h2"))
    assert(a.all.map(e => e.executionHashId -> e.status).toSet ==
      Set("h1" -> RunStatus.Succeeded, "h2" -> RunStatus.Succeeded))
  }

  test("lines already read are not parsed again") {
    val p = newPath()
    val a = new FileLedger(p)
    a.put(done("h1"))
    (2 to 20).foreach(i => a.put(done(s"h$i")))
    assert(a.get("h1", "t").exists(_.status == RunStatus.Succeeded))
    // rewrite the first record in place, same length, far from the tail:
    // only a reader that re-parses the whole file would see it
    val bytes = Files.readAllBytes(p)
    val text = new String(bytes, "UTF-8")
    val edited = text.replaceFirst("SUCCEEDED", "FAILED___")
    assert(edited.length == text.length && edited != text)
    val ch = java.nio.channels.FileChannel.open(p, StandardOpenOption.WRITE)
    try ch.write(java.nio.ByteBuffer.wrap(edited.getBytes("UTF-8")), 0)
    finally ch.close()
    assert(a.get("h1", "t").exists(_.status == RunStatus.Succeeded))
    assert(new FileLedger(p).get("h1", "t").exists(_.status == "FAILED___"))
  }

  test("a ledger file replaced by a different copy is read again from the start") {
    val p = newPath()
    val a = new FileLedger(p)
    a.put(done("h1"))
    assert(a.get("h1", "t").nonEmpty)
    // the copy-per-iteration shape: another ledger copied over this path
    val other = newPath()
    val o = new FileLedger(other)
    (1 to 5).foreach(i => o.put(done(s"other$i")))
    Files.copy(other, p, StandardCopyOption.REPLACE_EXISTING)
    assert(a.get("h1", "t").isEmpty)
    assert(a.get("other5", "t").nonEmpty)
    // rewritten in place (same file, longer content): also noticed
    val third = newPath()
    val t = new FileLedger(third)
    (1 to 8).foreach(i => t.put(done(s"third$i")))
    Files.write(p, Files.readAllBytes(third))
    assert(a.get("other5", "t").isEmpty)
    assert(a.all.map(_.executionHashId).toSet == (1 to 8).map(i => s"third$i").toSet)
  }

  test("a truncated ledger file is read again from the start") {
    val p = newPath()
    val a = new FileLedger(p)
    (1 to 3).foreach(i => a.put(done(s"h$i")))
    assert(a.all.size == 3)
    val firstLine = Files.readAllLines(p).get(0)
    val ch = java.nio.channels.FileChannel.open(p, StandardOpenOption.WRITE)
    try ch.truncate(firstLine.getBytes("UTF-8").length + 1L) finally ch.close()
    assert(a.all.map(_.executionHashId) == Seq("h1"))
    assert(a.tryAdmit(done("h3", "")))
    assert(new FileLedger(p).all.map(_.executionHashId).toSet == Set("h1", "h3"))
  }

  test("a torn trailing fragment is skipped quietly; once isolated mid-file " +
      "it is reported on stderr") {
    val p = newPath()
    val a = new FileLedger(p)
    a.put(done("h1"))
    Files.write(p, "{\"executionHashId\":\"h2\",\"sour".getBytes("UTF-8"),
      StandardOpenOption.APPEND)
    val quiet = stderrOf {
      assert(a.get("h1", "t").nonEmpty)
      assert(a.all.map(_.executionHashId) == Seq("h1"))
    }
    assert(quiet.isEmpty, quiet)
    // the next append starts on a fresh line, isolating the fragment
    val reported = stderrOf {
      assert(a.tryAdmit(done("h3", "")))
      assert(a.all.map(_.executionHashId).toSet == Set("h1", "h3"))
    }
    assert(reported.contains("skipped 1 unparseable mid-file line(s) at 2"), reported)
  }

  test("an isolated mid-file garbage line is reported; a garbage last line " +
      "is skipped quietly until a line follows it") {
    val p = newPath()
    new FileLedger(p).put(done("h1"))
    Files.write(p, "not json\n".getBytes("UTF-8"), StandardOpenOption.APPEND)
    val a = new FileLedger(p)
    val quiet = stderrOf(assert(a.all.map(_.executionHashId) == Seq("h1")))
    assert(quiet.isEmpty, quiet)
    new FileLedger(p).put(done("h2"))
    val reported = stderrOf(assert(a.get("h2", "t").nonEmpty))
    assert(reported.contains("skipped 1 unparseable mid-file line(s) at 2"), reported)
    val fresh = stderrOf(assert(new FileLedger(p).all.size == 2))
    assert(fresh.contains("at 2"), fresh)
  }
}
