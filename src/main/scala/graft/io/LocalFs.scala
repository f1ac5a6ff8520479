package graft.io

import java.io.File
import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem with its two per-file process launches
  * replaced by `java.nio` calls.
  *
  * Without native-hadoop, `RawLocalFileSystem` runs `chmod` on every file
  * create and mkdir and `readlink` on every link-status lookup, which
  * `FileContext.rename` makes twice. Spark's checkpoint manager goes
  * through `FileContext`, so the offset log, commit log and state-store
  * files of a 4-batch shards → dedup drain cost 440 launches. Here the
  * same changes are syscalls from the JVM. Results are unchanged: the
  * same permission bits land, and the same status is returned.
  *
  * Spark's `CheckpointFileManager.isLocal` matches on Hadoop's own
  * `LocalFs`/`RawLocalFs` classes, so it reads false for [[ChecksummedFs]].
  * In Spark 4.1.2 its one reader is `ChecksumCheckpointFileManager`,
  * which only forwards it (checked with `javap -c` over the Spark jars).
  *
  * File writes (the landing JSON, `batch=N` stores, compaction) go
  * through Hadoop's `FileSystem` API instead, where the same launches
  * happen for every `_temporary`/attempt/partition dir, part file,
  * `.crc` sidecar and `_SUCCESS`. [[writeOptions]] routes one write to
  * [[ChecksummedFileSystem]]. This object is the only place in the
  * engine that names a `file:` implementation.
  */
object LocalFs {

  /** Point `FileContext`'s `file:` scheme at [[ChecksummedFs]]. Spark
    * builds a fresh AbstractFileSystem per checkpoint manager from a copy
    * of this conf, so the offset/commit logs and every state-store file
    * written after this call take the fork-free path.
    */
  def install(conf: Configuration): Unit =
    conf.set("fs.AbstractFileSystem.file.impl", classOf[ChecksummedFs].getName)

  /** DataFrameWriter options that send one file write's `file:` lookups
    * to [[ChecksummedFileSystem]]. Spark copies a write's options into
    * the Hadoop conf it builds for that write, which both the driver-side
    * committer and the executor tasks use, so nothing is set on the
    * session. The route has to be write-scoped: Hadoop's `FileSystem`
    * cache keys on scheme and user, not on conf, so once any `file:`
    * lookup has run a later conf change is ignored, and which class the
    * cache holds depends on the classpath (Hive's `ProxyLocalFileSystem`
    * when `hive-exec` registers it, plain `LocalFileSystem` otherwise).
    * Turning the cache off for these lookups makes each one build the
    * class named here, whatever is cached.
    */
  val writeOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[ChecksummedFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  private val Posix =
    FileSystems.getDefault.supportedFileAttributeViews.contains("posix")
  private val Perms = PosixFilePermission.values // OWNER_READ … OTHERS_EXECUTE

  private def posixSet(bits: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    Perms.indices.foreach(i => if ((bits >> (8 - i) & 1) != 0) s.add(Perms(i)))
    s
  }

  /** `RawLocalFileSystem` minus the `chmod` and `readlink` launches. */
  class RawFileSystem extends RawLocalFileSystem {

    /** Same post-umask bits, set by syscall. A permission with a bit above
      * 0777 (sticky) has no `PosixFilePermission`, so it keeps `chmod`.
      */
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val bits = permission.toShort.toInt
      if ((bits & ~0x1ff) != 0 || !Posix) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath, posixSet(bits))
    }

    /** The stock method asks `readlink` about `f.toString` and, when that
      * is not a symlink, returns `getFileStatus(f)`. Deciding on the same
      * name here keeps every answer identical; symlinks, dangling ones
      * included, keep the stock path.
      */
    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(new File(f.toString).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  /** `LocalFileSystem` over [[RawFileSystem]]: the same `.crc` sidecars
    * through the `FileSystem` API.
    *
    * A landing write does not need the refuse-to-overwrite `rename` of
    * Hive's `ProxyLocalFileSystem` (the cached `file:` class when
    * `hive-exec` is on the classpath). `FileOutputCommitter` needs only
    * `LocalFileSystem` semantics: its job commit deletes a file it is
    * about to replace before renaming onto it. And a replayed batch is
    * already idempotent, because `batch=N` is written with overwrite.
    */
  class ChecksummedFileSystem extends LocalFileSystem(new RawFileSystem)

  /** `RawLocalFs` over [[RawFileSystem]], with its four overrides. */
  private class RawFs(conf: Configuration) extends DelegateToFileSystem(
      FsConstants.LOCAL_FS_URI, new RawFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    override def getServerDefaults(): FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }

  /** `LocalFs` over [[RawFs]]: the same `.crc` sidecars. Like `LocalFs`
    * it always serves `file:///`; the URI parameter is the constructor
    * shape `AbstractFileSystem.createFileSystem` calls.
    */
  class ChecksummedFs(uri: URI, conf: Configuration)
      extends ChecksumFs(new RawFs(conf))
}
