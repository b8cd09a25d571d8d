package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Deterministic per-user scratch paths under `java.io.tmpdir`, and the
  * one recursive delete. `path(prefix, key)` is
  * `<tmpdir>/graft_<prefix>_<user>/<md5(key)>`:
  *   - scoped per user, because tmpdir is world-shared on multi-user
  *     hosts;
  *   - named by the md5 of the RAW key, because a lossy sanitization
  *     could collide two keys onto one dir (and a hex name never starts
  *     with the "_" or "." Spark's hidden-path filter skips).
  * The key's content is the caller's contract: fold in whatever makes two
  * contents differ — the source dir and every parameter, and for a
  * build-once cache also the source's length and mtime and a format
  * version, so a regenerated source or a changed config never reads
  * through a stale dir.
  */
private[graft] object Scratch {

  private val user = sys.props.getOrElse("user.name", "anon")
    .replaceAll("[^A-Za-z0-9._-]", "_")

  def path(prefix: String, key: String): String = {
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString
    Paths.get(sys.props("java.io.tmpdir"), s"graft_${prefix}_$user", md5)
      .toString
  }

  /** [[path]], deleted on entry: the fresh root a run rebuilds under
    * (an append sink cannot overwrite, and `OccTable.init` refuses a
    * live log).
    */
  def fresh(prefix: String, key: String): String = {
    val p = path(prefix, key)
    delete(p)
    p
  }

  /** Deletes `path` and everything under it, if present. Symbolic links are
    * removed, never followed.
    */
  def delete(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
      // Files.walk holds directory handles until closed — leaking one
      // per call would creep toward the fd limit over a long session
      scala.util.Using.resource(Files.walk(p)) { s =>
        s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      }
    }
  }
}
