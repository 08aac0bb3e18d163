package graft.ledger

import org.json4s._
import org.json4s.jackson.JsonMethods
import org.json4s.JsonDSL._
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import scala.jdk.CollectionConverters._

/** K4/X6 — the extraction ledger: run metadata keyed
  * `(ExecutionHashId, SourceTable)`, mirroring the reference's DynamoDB table
  * (`CloudFormation/template2.yaml:527-544`; fields written
  * `routing/lambda_function.py:129-139`, `sybaseiq_extractor.py:300-309,
  * 342-352`). Drives admission-time idempotency: a hash that already
  * SUCCEEDED (or is in flight, status blank) is skipped and a
  * `JobHasRunOrIsRunning-…` tombstone recorded
  * (`routing/lambda_function.py:78-104`).
  */
final case class LedgerEntry(
    executionHashId: String,
    sourceTable: String,
    status: String = "", // "" = in flight, as the reference's blank status
    rowCount: Option[Long] = None,
    expectedRows: Option[Long] = None,
    schemaTree: Option[String] = None,
    startTs: Option[String] = None,
    endTs: Option[String] = None,
    errorMessage: Option[String] = None
) {
  def key: (String, String) = (executionHashId, sourceTable)
}

object RunStatus {
  // The reference's terminal-state vocabulary (this.json:129-177).
  val Succeeded = "SUCCEEDED"
  val Failed = "FAILED"
  val Skipped = "SKIPPED" // tombstone analogue: JobHasRunOrIsRunning-…
}

trait RunLedger {
  def get(hashId: String, table: String): Option[LedgerEntry]
  def put(entry: LedgerEntry): Unit
  def all: Seq[LedgerEntry]

  /** X6 admission guard (`routing/lambda_function.py:78-104`): run only when
    * no entry exists, or the previous attempt FAILED. Blank status means
    * in-flight → skip, exactly as the reference.
    */
  def shouldRun(hashId: String, table: String): Boolean =
    get(hashId, table) match {
      case None => true
      case Some(e) => e.status == RunStatus.Failed
    }

  /** Atomic admission: decide [[shouldRun]] AND write the in-flight marker
    * in one step, so two same-hash plans racing through X4's parallel
    * executor cannot both be admitted (the reference's DynamoDB conditional
    * write, which its Lambda performs as separate get+put and therefore
    * races — a quirk we fix rather than preserve). Returns true iff the
    * caller owns the run. Monitor-synchronized: correct for in-process
    * concurrency, which is X4's actual execution model; a multi-driver
    * deployment swaps in a ledger whose backing store does the conditional
    * write natively (DynamoDB/JDBC unique key).
    */
  def tryAdmit(entry: LedgerEntry): Boolean = synchronized {
    if (shouldRun(entry.executionHashId, entry.sourceTable)) {
      put(entry); true
    } else false
  }
}

/** In-memory ledger for tests and single-process runs; synchronized so X4's
  * bounded-parallel plan execution is safe.
  */
final class InMemoryLedger extends RunLedger {
  private val m = scala.collection.concurrent.TrieMap.empty[(String, String), LedgerEntry]
  def get(h: String, t: String): Option[LedgerEntry] = m.get((h, t))
  def put(e: LedgerEntry): Unit = m.put(e.key, e)
  def all: Seq[LedgerEntry] = m.values.toSeq
}

/** Append-only JSONL file ledger with latest-wins-by-key reads — the local
  * analogue of DynamoDB upserts (SURVEY.md §2.1 K4). Appends are atomic
  * per-line and synchronized per-process; ADMISSION is additionally
  * OS-locked, so it is safe under cross-process concurrency (the
  * reference's X4 model is 50 parallel Glue runs — separate JVMs, not
  * threads; `routing/lambda_function.py:78-104` races its get+put where
  * DynamoDB offered the conditional write).
  *
  * Reads are incremental: each instance keeps a latest-wins index of the
  * lines it has read and the byte offset where it stopped, and every
  * `get`/`tryAdmit` reads only what was appended since — by this instance
  * or any other writer. A file that was replaced or truncated is read
  * again from the start.
  */
final class FileLedger(path: Path) extends RunLedger {
  Files.createDirectories(path.getParent)

  def this(p: String) = this(Paths.get(p))

  /** X6 admission, CROSS-PROCESS: decide [[shouldRun]] AND append the
    * in-flight marker under an OS-level exclusive region — a
    * `java.nio.channels.FileLock` on a sidecar `.lock` file, held only
    * for the check+append (the DynamoDB conditional-write analogue, now
    * real mutual exclusion across drivers sharing a ledger file on a
    * shared filesystem). FileLock is per-JVM per-FILE: a second lock
    * attempt from the same JVM throws OverlappingFileLockException
    * instead of blocking, so a JVM-global monitor keyed on the canonical
    * lock path serializes in-process callers first — including callers
    * holding SEPARATE FileLedger instances over the same path (the
    * in-process `synchronized` of the base trait cannot, its monitor
    * being per-instance). */
  override def tryAdmit(entry: LedgerEntry): Boolean =
    withFileLock {
      if (shouldRun(entry.executionHashId, entry.sourceTable)) {
        putUnlocked(entry); true
      } else false
    }

  /** Run `body` under the two-level exclusion: the JVM-global monitor for
    * this lock path (FileLock is per-JVM per-file — a second lock attempt
    * from the same JVM throws instead of blocking), then the OS FileLock
    * on the sidecar. Reentrancy across put/tryAdmit is avoided by routing
    * the locked paths through [[putUnlocked]]. */
  private def withFileLock[A](body: => A): A = {
    val lockPath = path.resolveSibling(path.getFileName.toString + ".lock")
    FileLedger.monitorFor(lockPath).synchronized {
      val ch = java.nio.channels.FileChannel.open(lockPath,
        StandardOpenOption.CREATE, StandardOpenOption.WRITE)
      try {
        val lock = ch.lock()
        try body finally lock.release()
      } finally ch.close()
    }
  }

  /** Status updates (Succeeded/Failed) take the SAME OS lock as admission:
    * an unlocked cross-process append could otherwise interleave with (or
    * be torn under) another process's locked admission read, making the
    * cross-process-safety claim narrower than admission alone. */
  def put(e: LedgerEntry): Unit = withFileLock { putUnlocked(e) }

  private def putUnlocked(e: LedgerEntry): Unit = {
    val line = JsonMethods.compact(JsonMethods.render(
      ("executionHashId" -> e.executionHashId) ~
        ("sourceTable" -> e.sourceTable) ~
        ("status" -> e.status) ~
        ("rowCount" -> e.rowCount) ~
        ("expectedRows" -> e.expectedRows) ~
        ("schemaTree" -> e.schemaTree) ~
        ("startTs" -> e.startTs) ~
        ("endTs" -> e.endTs) ~
        ("errorMessage" -> e.errorMessage)))
    // Torn-tail isolation (ADVICE r11): a writer that crashed mid-append
    // leaves a newline-less fragment at EOF; appending straight after it
    // would CONCATENATE this complete record onto the fragment and lose it
    // to the same parse failure. Under the lock, start on a fresh line —
    // the fragment stays isolated as its own (reported) garbage line and
    // every committed record stays readable.
    val needsNl = Files.exists(path) && Files.size(path) > 0 && {
      val ch = java.nio.channels.FileChannel.open(path,
        StandardOpenOption.READ)
      try {
        val b = java.nio.ByteBuffer.allocate(1)
        ch.read(b, ch.size() - 1)
        b.get(0) != '\n'.toByte
      } finally ch.close()
    }
    Files.write(path, ((if (needsNl) "\n" else "") + line + "\n")
      .getBytes("UTF-8"),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }

  // Latest-wins index over the lines read so far, and where reading stopped:
  // `offset` is the byte just past the last line consumed, `anchor` the
  // bytes ending there and `fileKey` the file's identity, so a replaced or
  // truncated file is noticed and read again from the start.
  private val index = scala.collection.mutable.HashMap.empty[(String, String), LedgerEntry]
  private var offset = 0L
  private var anchor = Array.emptyByteArray
  private var fileKey: Any = null
  private var linesRead = 0

  /** Bring the index up to date with the file: read only the bytes appended
    * since the last call, unless the file was replaced or truncated, in
    * which case start again from byte zero. Admission therefore costs
    * O(new lines), not O(ledger). */
  private def refresh(): Unit = {
    if (!Files.exists(path)) { reset(); return }
    val ch = java.nio.channels.FileChannel.open(path, StandardOpenOption.READ)
    try {
      val key = Files.readAttributes(path,
        classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey()
      val size = ch.size()
      if (key != fileKey || size < offset || !anchorHolds(ch)) {
        reset(); fileKey = key
      }
      if (size > offset) consume(readBytes(ch, offset, (size - offset).toInt), size)
    } finally ch.close()
  }

  private def reset(): Unit = {
    index.clear(); offset = 0L; anchor = Array.emptyByteArray
    fileKey = null; linesRead = 0
  }

  private def readBytes(ch: java.nio.channels.FileChannel, at: Long,
      n: Int): Array[Byte] = {
    val buf = java.nio.ByteBuffer.allocate(n)
    while (buf.hasRemaining && ch.read(buf, at + buf.position()) > 0) ()
    java.util.Arrays.copyOf(buf.array(), buf.position())
  }

  private def anchorHolds(ch: java.nio.channels.FileChannel): Boolean =
    java.util.Arrays.equals(
      readBytes(ch, offset - anchor.length, anchor.length), anchor)

  /** Parse the complete lines of `bytes` (read from `offset`) into the
    * index. A newline-less tail is an append still in flight or the torn
    * tail of a crashed writer: it is left unread. An unparseable line that
    * ends the file is skipped quietly and left unread too, so it is judged
    * again once lines follow it. An unparseable MID-FILE line is either
    * such a fragment later isolated by the putUnlocked newline defense
    * (benign, inevitable after a writer crash) or real corruption of a
    * committed record — the reader cannot distinguish them, and a
    * corrupted Succeeded record means a later tryAdmit re-runs work that
    * already committed. Failing hard would brick the ledger after every
    * writer crash (this IS the crash-recovery gate), so the policy is
    * skip-but-REPORT: every skipped line is surfaced on stderr with its
    * position so corruption is visible, never silent (ADVICE r11). */
  private def consume(bytes: Array[Byte], fileSize: Long): Unit = {
    val skipped = scala.collection.mutable.ArrayBuffer[Int]()
    var start = 0
    var nl = bytes.indexOf('\n'.toByte)
    while (nl >= 0) {
      val line = new String(bytes, start, nl - start, "UTF-8")
      val parsed =
        if (line.isEmpty) None else scala.util.Try(JsonMethods.parse(line)).toOption
      val garbage = line.nonEmpty && parsed.isEmpty
      if (garbage && offset + nl + 1 == fileSize) nl = -1
      else {
        linesRead += 1
        if (garbage) skipped += linesRead
        parsed.foreach { j => val e = FileLedger.entry(j); index(e.key) = e }
        start = nl + 1
        nl = bytes.indexOf('\n'.toByte, start)
      }
    }
    if (start > 0) {
      offset += start
      anchor = java.util.Arrays.copyOfRange(bytes, math.max(0, start - 256), start)
    }
    if (skipped.nonEmpty) System.err.println(
      s"[graft] ledger $path: skipped ${skipped.size} unparseable " +
        s"mid-file line(s) at ${skipped.mkString(",")} — possible " +
        s"corruption of committed records; inspect before trusting " +
        s"re-admission decisions")
  }

  /** Latest-wins by (hashId, table) — the "row_number() = 1 by ts desc" view
    * over an append-only log (SURVEY.md §2.1 K4 mapping). */
  def get(h: String, t: String): Option[LedgerEntry] = synchronized {
    refresh(); index.get((h, t))
  }

  def all: Seq[LedgerEntry] = synchronized { refresh(); index.values.toSeq }
}

object FileLedger {
  /** One monitor per canonical lock path, JVM-wide — the in-process half
    * of [[FileLedger.tryAdmit]]'s two-level exclusion. */
  private val monitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private[ledger] def monitorFor(p: Path): Object =
    monitors.computeIfAbsent(
      p.toAbsolutePath.normalize.toString, _ => new Object)

  private def entry(j: JValue): LedgerEntry = {
    def str(k: String) = j \ k match { case JString(s) => Some(s); case _ => None }
    def long(k: String) = j \ k match {
      case JInt(i) => Some(i.toLong); case JLong(i) => Some(i); case _ => None
    }
    LedgerEntry(str("executionHashId").getOrElse(""),
      str("sourceTable").getOrElse(""), str("status").getOrElse(""),
      long("rowCount"), long("expectedRows"), str("schemaTree"),
      str("startTs"), str("endTs"), str("errorMessage"))
  }
}
