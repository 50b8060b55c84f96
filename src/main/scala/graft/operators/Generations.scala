package graft.operators

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}

/** Atomic CURRENT pointer for generational tables — the publish step that
  * closes the standing-state lifecycle (DedupIndex / AnnIndex / AggState
  * all `optimize` into a NEW directory so readers are never mid-rewrite;
  * something must then switch readers over, atomically).
  *
  * The protocol is the classic metadata-pointer design: the table's
  * identity is a tiny `CURRENT` file naming the active generation
  * directory; `publish` writes a temp file and atomically renames it over
  * `CURRENT`, so a reader resolves either the old generation or the new
  * one — never a torn path, never a half-compacted view. Old generations
  * stay on disk for in-flight readers until retention removes them.
  *
  * Filesystem-native on purpose: at cluster scale the same two calls run
  * against any store with atomic rename (HDFS rename, or a conditional
  * put on object stores).
  */
object Generations {

  private def currentFile(tableDir: String) = new File(tableDir, "CURRENT")
  private def logFile(tableDir: String) = new File(tableDir, "GENERATIONS.log")

  /** ## Writer concurrency contract — SINGLE WRITER per state dir
    *
    * Every standing table (DedupIndex / AnnIndex / AggState / ViewState /
    * ClusterState) assumes ONE writer at a time per state directory:
    *
    *  - blind appends commute with EACH OTHER (parquet file adds under
    *    distinct names), so two appenders usually survive by luck — but
    *    nothing orders them against a rewrite;
    *  - `optimize` reads a listing of the source generation and rewrites
    *    it into a NEW directory: an append landing after the listing is
    *    NOT in the rewrite, and the subsequent `publish` switches readers
    *    to a generation that silently lost it (the in-rewrite window is
    *    caught by the fingerprint gate, which re-lists the source at
    *    validation — the validate-to-publish window is not);
    *  - `publish`'s CURRENT switch is atomic for READERS, not an ordering
    *    for writers; `retire` deletes directories a racing writer may be
    *    appending into.
    *
    * [[withWriterLock]] turns the assumption into a best-effort guard: a
    * lock FILE created atomically in the state dir, held for the span of
    * a mutation, with stale-expiry so a crashed writer cannot wedge the
    * table forever. The CLIs (`*Main`) take it around every mutating
    * verb ([[cliRewrite]] / [[cliPublish]] for rewrites and publishes),
    * and the streaming maintenance loops and [[Takedown]] take the
    * table-then-generation pair per batch through [[withTableWriter]]. It is
    * advisory — a writer that bypasses the lock is not stopped (the
    * filesystem cannot do that portably) — but any two cooperating
    * writers serialize or fail loudly instead of losing data.
    *
    * OBJECT-STORE CAVEAT (the 100 TB deployment reality): the guard's
    * atomicity rests on create-if-absent (`Files.createFile`) and atomic
    * rename, which hold on POSIX filesystems and HDFS but NOT on plain
    * S3-style object stores — S3 PUT has no portable create-if-absent
    * without conditional writes, and "rename" is copy+delete. On such a
    * store this lock degrades to racy best-effort: deploy the state dir
    * on a store with atomic create/rename semantics (HDFS, a POSIX NFS,
    * S3 WITH If-None-Match conditional puts wired into the FileSystem
    * impl), or serialize writers externally (one maintenance job per
    * table — the deployment shape the CLIs assume anyway). Independent
    * of the lock, `optimize` closes its own validate-to-publish window
    * defense-in-depth: [[publishChecked]] re-lists the source
    * generation immediately before the pointer switch and refuses to
    * publish a rewrite whose source grew behind it. */
  private val LockName = ".WRITER_LOCK"

  /** Lock-hold observability (r15): cumulative held nanos per lock dir
    * since the last drain — the pipeline scale harness reads a per-wave
    * ledger from it ("how long were the standing tables writer-locked
    * this batch"). Two nanoTime calls per scope; nothing else. */
  private val lockHold =
    new java.util.concurrent.ConcurrentHashMap[String,
      java.util.concurrent.atomic.AtomicLong]()

  /** Drain and reset the per-lock hold times, in milliseconds. */
  def drainLockHoldMs(): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    lockHold.asScala
      .map { case (k, v) => k -> v.getAndSet(0L) / 1000000L }
      .filter(_._2 > 0L).toMap
  }

  /** Run `body` holding the writer lock of `stateDir`. Throws
    * `IllegalStateException` if another live writer holds it; a lock
    * older than `staleMs` (default 30 min — longer than any single
    * mutation at sane scale, tune up for huge optimizes) is presumed
    * crashed and broken with a stderr note. NOT reentrant: one lock
    * scope per mutation, operators below the CLI layer never lock. */
  def withWriterLock[T](stateDir: String,
      staleMs: Long = 30L * 60 * 1000)(body: => T): T = {
    val dir = new File(stateDir)
    dir.mkdirs()
    val lock = new File(dir, LockName)
    // unique per-acquisition token: release deletes the lock ONLY while
    // its content is still this token — a body that outlives staleMs and
    // gets its lock broken + re-acquired by another writer must not
    // delete THAT writer's lock on the way out (the r13 ADVICE TOCTOU)
    val token = s"pid=${ProcessHandle.current.pid} ts=${System.currentTimeMillis} " +
      s"nonce=${java.util.UUID.randomUUID}"
    def tryAcquire(): Boolean =
      try {
        Files.createFile(lock.toPath) // the atomic claim
        Files.write(lock.toPath, (token + "\n").getBytes(StandardCharsets.UTF_8))
        true
      } catch { case _: java.nio.file.FileAlreadyExistsException => false }
    if (!tryAcquire()) {
      val age = System.currentTimeMillis - lock.lastModified
      if (lock.isFile && age > staleMs) {
        // break the stale lock by atomically MOVING it aside, never by
        // delete-then-create: of two writers that both observed
        // staleness, exactly one wins the move — the loser's move throws
        // and it fails loudly instead of deleting the winner's freshly
        // created lock (the delete-based break let both "acquire").
        // Remaining TOCTOU (r14 ADVICE): a breaker that computed `age` on
        // the OLD lock could move aside a FRESH lock that a faster breaker
        // already re-created (the move is unconditional on whatever sits
        // at the path). Two guards: (a) remember the stale holder's
        // content and re-check mtime immediately before the move; (b)
        // after the move, verify the moved-aside file IS the stale holder
        // we observed — if it is someone's fresh lock, restore it and
        // treat as contention.
        val staleContent = scala.util.Try(new String(
          Files.readAllBytes(lock.toPath), StandardCharsets.UTF_8))
          .getOrElse("")
        val mtimeNow = lock.lastModified
        val stillStale = mtimeNow != 0L &&
          (System.currentTimeMillis - mtimeNow) > staleMs
        val aside = new File(dir, s"$LockName.stale.${System.nanoTime}.${
          ProcessHandle.current.pid}")
        val moved = stillStale &&
          (try {
            Files.move(lock.toPath, aside.toPath, StandardCopyOption.ATOMIC_MOVE)
            true
          } catch { case _: java.io.IOException => false })
        if (moved) {
          // post-move authority: the move is atomic, so whatever landed in
          // `aside` is exactly what was at the lock path. If it is not the
          // stale holder we observed (content differs, or it is younger
          // than staleMs), we stole a live writer's lock — put it back
          // (best-effort; the path is empty unless a third writer claimed
          // it) and fail loudly as contention.
          val movedContent = scala.util.Try(new String(
            Files.readAllBytes(aside.toPath), StandardCharsets.UTF_8))
            .getOrElse("")
          val movedAge = System.currentTimeMillis - aside.lastModified
          val stoleFresh = movedContent != staleContent || movedAge <= staleMs
          if (stoleFresh) {
            try Files.move(aside.toPath, lock.toPath, StandardCopyOption.ATOMIC_MOVE)
            catch { case _: java.io.IOException => () }
            throw new IllegalStateException(
              s"writer lock contended while breaking stale lock: $lock " +
                "(a fresh lock appeared mid-break; restored)")
          }
          System.err.println(s"withWriterLock: broke stale lock $lock " +
            s"(age ${age / 1000}s > ${staleMs / 1000}s)")
          Files.deleteIfExists(aside.toPath)
          ()
        }
        if (!moved || !tryAcquire())
          throw new IllegalStateException(
            s"writer lock contended while breaking stale lock: $lock")
      } else {
        val holder = scala.util.Try(new String(
          Files.readAllBytes(lock.toPath), StandardCharsets.UTF_8).trim)
          .getOrElse("(unreadable)")
        throw new IllegalStateException(
          s"another writer holds $lock [$holder] — standing tables are " +
            "single-writer; retry after it finishes (or after stale expiry)")
      }
    }
    val tAcq = System.nanoTime()
    try body finally {
      lockHold.computeIfAbsent(stateDir,
        _ => new java.util.concurrent.atomic.AtomicLong())
        .addAndGet(System.nanoTime() - tAcq)
      // three ways to find the lock not ours at release: the directory is
      // gone (the body retired its own generation — nothing to release),
      // another writer's token (broken as stale and re-acquired — leave
      // it), or no lock file in a live directory (deleted behind the lock)
      val holder = scala.util.Try(new String(
        Files.readAllBytes(lock.toPath), StandardCharsets.UTF_8).trim).toOption
      if (holder.contains(token)) Files.deleteIfExists(lock.toPath)
      else if (holder.isDefined || lock.exists)
        System.err.println(s"withWriterLock: $lock is no longer this " +
          "writer's at release (body exceeded staleMs and the lock was " +
          "broken?) — leaving it to its current holder")
      else if (dir.isDirectory)
        System.err.println(s"withWriterLock: $lock is missing at release " +
          s"while $dir still exists — something deleted the lock file " +
          "behind this writer")
      ()
    }
  }

  /** The generation a writer addresses: CURRENT's target, or
    * `<tableDir>/gen-0` before the first publish. Unlocked, it is only an
    * optimistic guess; [[withTableWriter]] resolves it under the lock. */
  def active(tableDir: String): String =
    current(tableDir).getOrElse(s"$tableDir/gen-0")

  /** The table-writer scope: lock `tableDir`, resolve the active
    * generation UNDER that lock, lock the generation, run `body` with it.
    * The generation lock serializes against a CLI append into the live
    * generation; the table lock serializes publish/retire against a CLI
    * publish. The order is fixed (table, then generation) and CLI verbs
    * take one lock each, so no deadlock cycle exists. */
  def withTableWriter[T](tableDir: String)(body: String => T): T =
    withWriterLock(tableDir) {
      val gen = active(tableDir)
      withWriterLock(gen)(body(gen))
    }

  /** Whether two paths name one directory — canonically, so a relative
    * path, a trailing slash or a symlink cannot pass as a second name. */
  def sameDir(a: String, b: String): Boolean =
    new File(a).getCanonicalPath == new File(b).getCanonicalPath

  /** The in-place refusal every rewrite entry point runs first: a rewrite
    * into its own source would delete the input under the reader before
    * validation could run. Throws `IllegalArgumentException`. */
  def refuseInPlace(sourceDir: String, outDir: String, what: String): Unit =
    require(!sameDir(sourceDir, outDir),
      s"$what: output dir $outDir must differ from the source $sourceDir")

  /** The rewrite step: refuse in place, mark the new generation pending,
    * run the rewrite (which verifies itself, throwing on a mismatch), then
    * replace the mark with the source fingerprint — at validation time,
    * because a publish-time recording would fold a late mutation INTO the
    * fingerprint and make [[publishChecked]] near-vacuous (r14 ADVICE).
    * The caller holds the source's lock. */
  def rewrite[T](sourceDir: String, outDir: String)(body: => T): T = {
    refuseInPlace(sourceDir, outDir, "rewrite")
    new File(outDir).mkdirs()
    Files.write(fingerprintFile(outDir).toPath, s"$Pending\n".getBytes(StandardCharsets.UTF_8))
    val result = body
    recordSourceFingerprint(outDir, sourceDir)
    result
  }

  /** [[rewrite]], then its [[publishChecked]] pointer switch — for a
    * caller already inside the table's [[withTableWriter]] scope. */
  def rewriteAndPublish(tableDir: String, sourceDir: String, outDir: String)(
      body: => Unit): Unit = {
    rewrite(sourceDir, outDir)(body)
    publishChecked(tableDir, outDir)
  }

  /** The CLI `optimize`/`reindex` path: [[rewrite]] under the SOURCE's
    * lock, so no append lands behind the rewrite's listing. */
  def cliRewrite[T](sourceDir: String, outDir: String)(body: => T): T =
    withWriterLock(sourceDir)(rewrite(sourceDir, outDir)(body))

  /** The CLI `publish` path: [[publishChecked]] under the table's lock. */
  def cliPublish(tableDir: String, generationPath: String): Unit =
    withWriterLock(tableDir)(publishChecked(tableDir, generationPath))

  /** Delete `path` and everything under it (an absent path is a no-op). */
  def deleteTree(path: String): Unit = {
    def rm(f: File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(new File(path))
  }

  /** Atomically point `tableDir`'s CURRENT at `generationPath` (which must
    * exist — publishing a dangling pointer is always a bug). Also appends
    * the publish to `GENERATIONS.log` — the table's lineage, enabling
    * as-of reads ([[resolveAt]]). CURRENT is the single source of truth;
    * the log is advisory history (a crash between the atomic switch and
    * the log append loses only the history line, never the switch). */
  def publish(tableDir: String, generationPath: String): Unit = {
    val gen = new File(generationPath)
    require(gen.isDirectory, s"publish: generation dir missing: $generationPath")
    val dir = new File(tableDir)
    dir.mkdirs()
    val tmp = File.createTempFile(".CURRENT", ".tmp", dir)
    Files.write(tmp.toPath, gen.getCanonicalPath.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp.toPath, currentFile(tableDir).toPath,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    val seq = history(tableDir).size + 1
    Files.write(logFile(tableDir).toPath,
      s"$seq\t${gen.getCanonicalPath}\n".getBytes(StandardCharsets.UTF_8),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
    ()
  }

  /** A listing fingerprint of a generation directory's DATA files —
    * count, total bytes, max mtime over every file that is not a
    * lock/marker artifact (dot- and underscore-prefixed names). One
    * recursive list, order-independent; cheap enough to take right
    * before a pointer switch. */
  def listingFingerprint(dir: String): String = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
      else Seq(f)
    val files = walk(new File(dir))
      .filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_"))
    s"n=${files.size} bytes=${files.map(_.length).sum} " +
      s"maxMtime=${(0L +: files.map(_.lastModified)).max}"
  }

  private def fingerprintFile(genDir: String) = new File(genDir, ".SOURCE_FINGERPRINT")

  /** [[rewrite]]'s mark, in the fingerprint file, of a rewrite not done. */
  private val Pending = "pending"

  /** Record, inside a freshly rewritten generation, which source it was
    * derived from and the source's listing fingerprint at
    * post-rewrite-validation time. [[publishChecked]] consults it to
    * close the validate-to-publish window (the operators' own content
    * gates cover the in-rewrite window; this covers everything between
    * the rewrite finishing and the pointer switch — on an object store
    * where [[withWriterLock]] degrades, it is the remaining guard). */
  def recordSourceFingerprint(genDir: String, sourceDir: String): Unit = {
    Files.write(fingerprintFile(genDir).toPath,
      (new File(sourceDir).getCanonicalPath + "\n" +
        listingFingerprint(sourceDir) + "\n").getBytes(StandardCharsets.UTF_8))
    ()
  }

  /** [[publish]] that first re-lists the rewrite's source: if the
    * generation carries a recorded source fingerprint and the source's
    * listing has CHANGED since the rewrite (an append/tombstone landed
    * behind it), the pointer switch is refused — publishing would
    * silently drop that mutation from the visible table. A generation
    * still marked pending by [[rewrite]] (its rewrite threw) is refused
    * too. A retired (absent) source skips the check: nothing can have
    * appended into a directory that no longer exists. Generations without
    * a recorded fingerprint (built, not rewritten) publish as before. */
  def publishChecked(tableDir: String, generationPath: String): Unit = {
    val f = fingerprintFile(generationPath)
    if (f.isFile) {
      val content = new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8).trim
      if (content == Pending)
        throw new IllegalStateException(s"publish refused: the rewrite into " +
          s"$generationPath did not finish (it failed or is still running) — re-run it")
      val Array(src, expected) = content.split("\n", 2)
      if (new File(src).isDirectory) {
        val now = listingFingerprint(src)
        if (now != expected.trim)
          throw new IllegalStateException(
            s"publish refused: rewrite source $src changed since optimize " +
              s"(recorded [${expected.trim}], now [$now]) — a mutation landed " +
              "behind the rewrite and would vanish; re-run optimize")
      }
    }
    publish(tableDir, generationPath)
  }

  /** The publish lineage, oldest first: (seq, generationPath). */
  def history(tableDir: String): Seq[(Int, String)] = {
    val f = logFile(tableDir)
    if (!f.isFile) Seq.empty
    else new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
      .split("\n").toSeq.filter(_.nonEmpty)
      .map { l => val Array(s, p) = l.split("\t", 2); (s.toInt, p) }
  }

  /** TIME TRAVEL: the generation path as of the `seq`-th publish. Valid
    * only while retention has kept that generation on disk — a vacuumed
    * generation fails loudly here rather than resolving to a dangling
    * path. */
  def resolveAt(tableDir: String, seq: Int): String = {
    val h = history(tableDir)
    val p = h.find(_._1 == seq).map(_._2).getOrElse(
      sys.error(s"no publish #$seq under $tableDir (history has ${h.size})"))
    require(new File(p).isDirectory,
      s"generation #$seq at $p no longer on disk (vacuumed?)")
    p
  }

  /** RETENTION: delete generation directories superseded by later
    * publishes. The last `keepLast` publishes and CURRENT's target are
    * always kept; older generations are deleted only when nothing inside
    * them was modified within `retentionHours` (the [[Vacuum]] age-gate
    * convention — an in-flight reader that resolved CURRENT just before a
    * rapid publish chain keeps its snapshot on disk for the window).
    * History lines are preserved, so a later [[resolveAt]] on a retired
    * seq fails loudly with the vacuumed diagnostic instead of silently
    * forgetting the publish ever happened. Returns the retired paths. */
  def retire(tableDir: String, keepLast: Int = 2,
             retentionHours: Double = 168.0): Seq[String] = {
    require(keepLast >= 1, "retire: keepLast must be >= 1")
    val h = history(tableDir)
    val keepSeqs = h.takeRight(keepLast).map(_._1).toSet
    val keepPaths = h.filter(e => keepSeqs(e._1)).map(_._2).toSet ++
      current(tableDir).map(new File(_).getCanonicalPath)
    val cutoff = System.currentTimeMillis - (retentionHours * 3600 * 1000).toLong
    def newestMtime(f: File): Long =
      if (f.isDirectory) (f.lastModified +: f.listFiles.toSeq.map(newestMtime)).max
      else f.lastModified
    h.map(_._2).distinct
      .filterNot(keepPaths)
      .filter(p => new File(p).isDirectory && newestMtime(new File(p)) < cutoff)
      .map { p => deleteTree(p); p }
  }

  /** Shared CLI handling for the lineage verbs — `publish <tableDir>
    * <generationDir>`, `resolve <tableDir> [seq]`, `history <tableDir>`,
    * `retire <tableDir> [keepLast] [retentionHours]` — so every
    * standing-table Main exposes the same surface, under the same locks,
    * without duplicating it. `args` is the full argv (verb first); any
    * other verb fails as an unknown command, so a Main's match can end
    * in this call. */
  def cliLineage(cmd: String, args: Array[String]): Unit = cmd match {
    case "publish" =>
      require(args.length >= 3, "publish needs <tableDir> <generationDir>")
      cliPublish(args(1), args(2))
      println(s"CURRENT of ${args(1)} -> ${args(2)}")
    case "resolve" =>
      // bare: the CURRENT generation; with a seq argument: the as-of
      // read from the publish lineage (time travel while retained)
      if (args.length >= 3) println(resolveAt(args(1), args(2).toInt))
      else println(resolve(args(1)))
    case "history" =>
      history(args(1)).foreach { case (seq, p) => println(s"$seq\t$p") }
    case "retire" =>
      val keep = if (args.length >= 3) args(2).toInt else 2
      val hours = if (args.length >= 4) args(3).toDouble else 168.0
      // retire deletes directories a racing writer may be appending into
      // (the contract's own words) — it takes the table's writer lock
      // like every other mutating verb
      val gone = withWriterLock(args(1)) { retire(args(1), keep, hours) }
      gone.foreach(p => println(s"retired\t$p"))
      println(s"${gone.size} generation(s) retired under ${args(1)}")
    case other => sys.error(s"unknown command: $other")
  }

  /** The active generation path, if a CURRENT pointer exists. */
  def current(tableDir: String): Option[String] = {
    val f = currentFile(tableDir)
    if (!f.isFile) None
    else Some(new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8).trim)
  }

  /** The active generation path; fails loudly when the table was never
    * published (reading an unpublished generational table is a bug, not a
    * default). */
  def resolve(tableDir: String): String =
    current(tableDir).getOrElse(
      sys.error(s"no CURRENT generation published under $tableDir"))
}
