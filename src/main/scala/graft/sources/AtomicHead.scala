package graft.sources

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileSystem, Options, Path}

/** The one atomic small-file commit in graft: every head, pointer and
  * manifest JSON (the persisted-state heads of MG heavy-hitters,
  * count-min, CDC and recrawl; the versioned-store pointers and
  * manifests; the export manifest) is written to a temp file and then
  * moved over its final name in ONE metadata operation, so a reader
  * sees the old content or the new, never a missing or torn file.
  *
  * On a local path (`file:` scheme, or no scheme under a local
  * default filesystem) the move is `Files.move(REPLACE_EXISTING,
  * ATOMIC_MOVE)`, a single rename(2). Hadoop's `LocalFs` cannot be used
  * here: its `rename(..., OVERWRITE)` deletes the destination and then
  * renames, leaving a window with no head at all. Other schemes (HDFS)
  * go through `FileContext.rename(..., Rename.OVERWRITE)`, an atomic
  * metadata operation there.
  *
  * The head readers open through the checksummed `LocalFileSystem`.
  * The local commit writes no `.crc` sidecar, so it deletes the
  * head's sidecar BEFORE the move: a stale one (from a checksummed
  * earlier write) would fail the read of the new content, while a
  * head with no sidecar reads unverified.
  */
object AtomicHead {

  /** Commit `json` as `stateDir/name`; `genTag` keeps concurrent
    * generations' temp files apart.
    */
  def write(stateDir: String, name: String, genTag: Long, json: String,
      hconf: Configuration): Unit =
    commit(new Path(stateDir, name), json, s"-$genTag", hconf)

  /** Commit `json` as the local file `dest`. */
  def commitLocal(dest: java.nio.file.Path, json: String): Unit =
    commit(new Path(dest.toAbsolutePath.toUri), json, "", null)

  private def commit(fin: Path, json: String, tmpTag: String, hconf: Configuration): Unit = {
    val name = fin.getName
    val uri = fin.toUri
    val scheme = Option(uri.getScheme).getOrElse(FileSystem.getDefaultUri(hconf).getScheme)
    if (scheme == "file") {
      val head = Paths.get(uri.getPath).toAbsolutePath
      Files.createDirectories(head.getParent)
      val tmp = head.resolveSibling(s".$name.tmp$tmpTag")
      Files.writeString(tmp, json)
      Files.deleteIfExists(head.resolveSibling(s".$name.crc"))
      Files.move(tmp, head,
        StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    } else {
      val tmp = new Path(fin.getParent, s".$name.tmp$tmpTag")
      val fc =
        if (uri.getScheme == null) FileContext.getFileContext(hconf)
        else FileContext.getFileContext(uri, hconf)
      val out = fc.create(tmp,
        java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
        Options.CreateOpts.createParent())
      try out.write(json.getBytes("UTF-8")) finally out.close()
      fc.rename(tmp, fin, Options.Rename.OVERWRITE)
    }
  }
}
