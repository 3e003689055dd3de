package graft.api

import java.nio.file.{AtomicMoveNotSupportedException, FileAlreadyExistsException, Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

/**
 * Deterministic, stage-once fixture directories for queries that synthesize
 * file-backed inputs (the GeoTIFF scan queries q68/q69/q73/q74/q101,
 * q94/q104, the split-file stream source).
 *
 * Earlier rounds created a fresh temp dir + a fresh JVM shutdown hook on
 * EVERY query invocation, so one driver run (Verify + bench warmup + bench
 * measured pass) accumulated 3+ hooks per query and re-synthesized the
 * fixture tree inside the timed region — fixture I/O polluted the bench
 * number. This helper fixes both, and is safe across PROCESSES:
 *
 *  - the path is deterministic per (name, version): `$tmpdir/graft_stage/
 *    <name>_v<version>`, so a warmup pass at any sf pre-stages the exact
 *    dir the measured pass reads, and a later JVM reuses a prior JVM's
 *    tree outright;
 *  - synthesis is committed by an ATOMIC RENAME: `synth` writes into a
 *    process-private scratch dir which is then moved onto the final path.
 *    Concurrent first-stagings each build their own tree and the first
 *    rename wins — the loser discards its scratch and reads the winner's
 *    committed tree. No half-written tree is ever visible under the final
 *    path, so no commit marker and no cross-process locking are needed;
 *  - NO delete-on-exit hook: an exiting JVM must not delete a tree another
 *    live JVM's cached path still points at. The footprint is a few MB of
 *    deterministic fixtures under the OS-managed tmpdir — bounded and
 *    reused, not leaked per-run.
 *
 * Bump `version` whenever the synthesized content changes — the path is the
 * cache key. In local mode this stages to the local tmpdir; on a cluster
 * the same contract targets shared storage (any path all executors see).
 */
object FixtureStage {
  private val staged = new ConcurrentHashMap[String, String]()
  private val stampCache = new ConcurrentHashMap[String, String]()

  /** Short content stamp (first 8 bytes of SHA-256, hex) of a source file,
    * for folding into a stage key so fixtures DERIVED from that file
    * auto-invalidate when the source is regenerated with different content
    * — without it, a later JVM silently reuses a committed tree built from
    * the old corpus. Content-based (not size+mtime) deliberately: the same
    * bytes live under every sf dir with DIFFERENT mtimes, and a warmup pass
    * at one sf must pre-stage the exact key the measured pass at another sf
    * reads. Cached per (path, size, mtime) so repeated queries re-hash only
    * when the file actually changes; the sources stamped this way are small
    * dimension files (KBs). */
  def contentStamp(path: String): String = {
    val p = Paths.get(path)
    val key = s"$path|${Files.size(p)}|${Files.getLastModifiedTime(p).toMillis}"
    stampCache.computeIfAbsent(key, _ => {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      md.digest(Files.readAllBytes(p)).take(8).map(b => f"$b%02x").mkString
    })
  }

  private def root: Path = Paths.get(
    sys.props.getOrElse("java.io.tmpdir", "/tmp"), "graft_stage")

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      // close the walk stream — it holds an fd until closed
      try {
        val wk = Files.walk(p)
        try wk.sorted(java.util.Comparator.reverseOrder())
          .forEach(q => { Files.deleteIfExists(q); () })
        finally wk.close()
      } catch { case _: Exception => () }
    }

  /**
   * Returns the absolute path of the staged directory for (name, version),
   * running `synth(scratchDir)` first iff no committed staging exists.
   */
  def stage(name: String, version: Int)(synth: String => Unit): String = {
    val key = s"${name}_v$version"
    val cached = staged.get(key)
    if (cached != null) return cached
    synchronized {
      val again = staged.get(key)
      if (again != null) return again
      val dir = root.resolve(key)
      if (!Files.isDirectory(dir)) {
        Files.createDirectories(root)
        // build in a process-private scratch, commit by rename
        val scratch = Files.createTempDirectory(root, s".$key.")
        try {
          synth(scratch.toAbsolutePath.toString)
          try Files.move(scratch, dir, StandardCopyOption.ATOMIC_MOVE)
          catch {
            case _: AtomicMoveNotSupportedException =>
              // same-filesystem rename is atomic on POSIX; the fallback
              // plain move still presents rename semantics on local disks
              try Files.move(scratch, dir)
              catch { case _: Exception => require(Files.isDirectory(dir),
                s"fixture staging for $key failed and no committed tree exists") }
            case _: FileAlreadyExistsException => () // another process won
            case _: java.nio.file.FileSystemException =>
              require(Files.isDirectory(dir),
                s"fixture staging for $key failed and no committed tree exists")
          }
        } finally deleteTree(scratch)
      }
      val abs = dir.toAbsolutePath.toString
      staged.put(key, abs)
      abs
    }
  }
}
