package graft.sources

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{FileAlreadyExistsException, Files}

import org.apache.hadoop.fs.{FileSystem, Path}

/** The claim primitives: ONE copy of the concurrency-critical election
  * code — version-file naming/listing for [[LogManifest]] and the atomic
  * claim-with-content that [[LogManifest]] commits and
  * [[graft.serve.MessageQueue]] receives through — so a protocol fix can
  * never land in one user and silently miss another.
  */
private[graft] object ManifestIo {

  def versionOf(p: Path): Long = {
    val n = p.getName
    if (n.startsWith("v") && n.endsWith(".txt"))
      try n.substring(1, n.length - 4).toLong catch { case _: Exception => -1L }
    else -1L
  }

  def versionFile(dir: Path, v: Long) = new Path(dir, f"v$v%016d.txt")

  /** All claimed version numbers under `dir`, descending (valid or not). */
  def claimedVersions(fs: FileSystem, dir: Path): Seq[Long] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).map(s => versionOf(s.getPath))
      .filter(_ >= 0).sorted.reverse.toSeq

  /** Local-file claim WITH content: the content goes to a temp file in the
    * target's directory, then `Files.createLink` (POSIX link(2) — atomic
    * AND exclusive) publishes it under the target name. A claim can never
    * exist without its content: there is no window where a paused
    * claimer holds a contentless claim that a peer could expire and
    * supersede (the lost-update hazard of claim-then-write). False iff
    * the target already exists.
    */
  def claimLocal(target: File, content: String): Boolean = {
    val tmp = File.createTempFile("claim-", ".tmp", target.getParentFile)
    try {
      Files.write(tmp.toPath, content.getBytes(UTF_8))
      try { Files.createLink(target.toPath, tmp.toPath); true }
      catch { case _: FileAlreadyExistsException => false }
    } finally tmp.delete()
  }

  /** Atomic claim WITH content: [[claimLocal]] on local filesystems.
    * Other schemes use the filesystem's exclusive `create(overwrite=false)`
    * and stream content after the claim; there the `#END` guard +
    * stale-claim expiry apply, and commit success is NOT durable if the
    * committer stalls longer than the engine's `staleClaimMs` between
    * claiming and finishing the stream (documented contract).
    */
  def claimAndWrite(fs: FileSystem, p: Path, content: String): Boolean = {
    val scheme = Option(p.toUri.getScheme)
      .orElse(Option(fs.getUri.getScheme)).getOrElse("file")
    if (scheme == "file")
      claimLocal(new File(Option(p.toUri.getPath).getOrElse(p.toString)),
        content)
    else {
      try {
        val out = fs.create(p, false)
        try out.write(content.getBytes(UTF_8)) finally out.close()
        true
      } catch { case _: java.io.IOException => false }
    }
  }
}
