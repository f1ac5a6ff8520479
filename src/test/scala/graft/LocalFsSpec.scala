package graft

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, LinkOption, Path, Paths}
import java.util.EnumSet
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CommonConfigurationKeys, CreateFlag, FileAlreadyExistsException,
  FileContext, FileStatus, FileSystem, FsConstants, LocalFileSystem, Path => HPath}
import org.apache.hadoop.fs.Options.{CreateOpts, Rename}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite
import graft.io.LocalFs

/** [[graft.io.LocalFs]] against Hadoop's stock local filesystems: its
  * `FileContext` side against `LocalFs`, and its `FileSystem` twin
  * (which the landing write reaches through `LocalFs.writeOptions`)
  * against `LocalFileSystem`. The same calls, each in its own temp dir,
  * must leave the same files with the same modes and give the same
  * answers — without a `chmod` or `readlink` launch.
  *
  * The stock side of the twin is `LocalFileSystem`, not the Hive
  * `ProxyLocalFileSystem` that this classpath caches for `file:`: that
  * class only adds a `rename` that refuses to replace a file, and the
  * landing write needs neither it nor its absence — `FileOutputCommitter`
  * deletes a file before renaming onto it, and a replayed batch is
  * idempotent because `batch=N` is written with overwrite.
  */
class LocalFsSpec extends AnyFunSuite {

  private def umasked(umask: String): Configuration = {
    val conf = new Configuration()
    conf.set(CommonConfigurationKeys.FS_PERMISSIONS_UMASK_KEY, umask)
    conf
  }

  private def context(fast: Boolean, umask: String = "022"): FileContext = {
    val conf = umasked(umask)
    if (fast) LocalFs.install(conf)
    FileContext.getFileContext(FsConstants.LOCAL_FS_URI, conf)
  }

  /** The fast side through the write route; the stock side built
    * directly, since the `file:` cache may hold another class. */
  private def fileSystem(fast: Boolean, umask: String = "022"): FileSystem = {
    val conf = umasked(umask)
    if (fast) {
      LocalFs.writeOptions.foreach { case (k, v) => conf.set(k, v) }
      FileSystem.get(FsConstants.LOCAL_FS_URI, conf)
    } else {
      val fs = new LocalFileSystem
      fs.initialize(FsConstants.LOCAL_FS_URI, conf)
      fs
    }
  }

  /** Runs `f` once per filesystem in a fresh dir: (stock, fast) results,
    * and the fast side's chmod/readlink launches.
    */
  private def both[A](umask: String = "022")(f: (FileContext, Path) => A)
      : (A, A, Seq[String]) = twins(context(_, umask))(f)

  /** [[both]] over the `FileSystem` twin. */
  private def bothFs[A](umask: String = "022")(f: (FileSystem, Path) => A)
      : (A, A, Seq[String]) = twins(fileSystem(_, umask))(f)

  private def twins[F, A](open: Boolean => F)(f: (F, Path) => A)
      : (A, A, Seq[String]) = {
    def run(fast: Boolean) = {
      val dir = Files.createDirectories(
        Paths.get(Scratch.dir(s"localfs_${if (fast) "fast" else "stock"}")))
      f(open(fast), dir)
    }
    val stock = run(fast = false)
    val (fast, launches) = ProcessLaunches.during(run(fast = true))
    (stock, fast, ProcessLaunches.chmodOrReadlink(launches))
  }

  private def mode(p: Path): Int =
    Files.getAttribute(p, "unix:mode", LinkOption.NOFOLLOW_LINKS)
      .asInstanceOf[Int] & 0xfff

  /** relative path → octal mode of everything under `root`. */
  private def modes(root: Path): Map[String, String] = {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(_ != root)
      .map(p => root.relativize(p).toString -> f"${mode(p)}%04o").toMap
    finally s.close()
  }

  private def write(fc: FileContext, p: HPath, text: String,
                    opts: CreateOpts*): Unit = {
    val out = fc.create(p, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE), opts: _*)
    try out.write(text.getBytes(UTF_8)) finally out.close()
  }

  test("the install selects the new filesystem; stock stays stock") {
    assert(context(fast = true).getDefaultFileSystem.isInstanceOf[LocalFs.ChecksummedFs])
    assert(context(fast = false).getDefaultFileSystem
      .isInstanceOf[org.apache.hadoop.fs.local.LocalFs])
    // the write options select the twin whatever `file:` class is cached,
    // with a fresh instance per lookup
    val cached = FileSystem.getLocal(new Configuration())
    val (a, b) = (fileSystem(fast = true), fileSystem(fast = true))
    assert(a.isInstanceOf[LocalFs.ChecksummedFileSystem] && (a ne b))
    assert(!cached.isInstanceOf[LocalFs.ChecksummedFileSystem])
    assert(FileSystem.getLocal(new Configuration()) eq cached)
  }

  test("files, created parents, dirs and .crc sidecars get the stock modes") {
    Seq("022", "027", "077").foreach { umask =>
      val (stock, fast, launches) = both(umask) { (fc, dir) =>
        val root = new HPath(dir.toString)
        write(fc, new HPath(root, "a/b/file"), "x", CreateOpts.createParent())
        write(fc, new HPath(root, "a/b/private"), "x",
          CreateOpts.perms(new FsPermission("600")))
        fc.mkdir(new HPath(root, "c/d"), FsPermission.getDirDefault, true)
        fc.mkdir(new HPath(root, "c/e"), new FsPermission("750"), false)
        modes(dir)
      }
      assert(fast === stock, s"umask $umask")
      assert(Set("a", "a/b", "a/b/.file.crc", "a/b/.private.crc", "c/e")
        .subsetOf(fast.keySet), s"umask $umask: $fast")
      assert(launches.isEmpty, s"umask $umask")

      val (stockFs, fastFs, fsLaunches) = bothFs(umask) { (fs, dir) =>
        val root = new HPath(dir.toString)
        val out = fs.create(new HPath(root, "a/b/file"))
        try out.write(1) finally out.close()
        val priv = fs.create(new HPath(root, "a/b/private"),
          new FsPermission("600"), true, 4096, 1.toShort, 1L << 20, null)
        try priv.write(1) finally priv.close()
        fs.mkdirs(new HPath(root, "c/d"))
        fs.mkdirs(new HPath(root, "c/e"), new FsPermission("750"))
        modes(dir)
      }
      assert(fastFs === stockFs, s"FileSystem, umask $umask")
      assert(Set("a", "a/b", "a/b/.file.crc", "a/b/.private.crc", "c/d", "c/e")
        .subsetOf(fastFs.keySet), s"FileSystem, umask $umask: $fastFs")
      assert(fsLaunches.isEmpty, s"FileSystem, umask $umask")
    }
  }

  test("getFileLinkStatus: file, dir, missing, symlink, dangling symlink") {
    // everything but the mtime, which differs between the two temp dirs
    def describe(s: FileStatus) =
      (s.getPath, s.isFile, s.isDirectory, s.isSymlink, s.getLen,
        if (s.isSymlink) s.getSymlink else null,
        s.getPermission, s.getOwner, s.getGroup)
    val names = Seq("file", "dir", "missing", "link", "dangling")
    val (stock, fast, launches) = both() { (fc, dir) =>
      Files.write(dir.resolve("file"), "abc".getBytes(UTF_8))
      Files.createDirectory(dir.resolve("dir"))
      Files.createSymbolicLink(dir.resolve("link"), dir.resolve("file"))
      Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
      // the plain form, and the scheme-qualified form Spark's checkpoint
      // paths take
      for (name <- names; form <- Seq("", "file:")) yield {
        val p = new HPath(s"$form${dir.resolve(name)}")
        val got = try Right(describe(fc.getFileLinkStatus(p)))
          catch { case _: FileNotFoundException => Left("FileNotFoundException") }
        // paths differ only by the temp dir's name
        (name, form, got.map(d => d.copy(_1 = d._1.getName,
          _6 = Option(d._6).map(_.getName).orNull)))
      }
    }
    assert(fast === stock)
    val plain = fast.collect { case (n, "", got) => n -> got }.toMap
    assert(plain("file").exists(d => d._2 && d._5 == 3L))
    assert(plain("dir").exists(_._3))
    assert(plain("missing") === Left("FileNotFoundException"))
    assert(plain("link").exists(d => d._4 && d._6 == "file"))
    assert(plain("dangling").exists(d => d._4 && d._6 == "gone"))
    // only the two symlinks took the stock readlink path
    assert(launches.nonEmpty && launches.forall(c =>
      c.endsWith("/link") || c.endsWith("/dangling")), launches)
  }

  test("rename onto an existing file: NONE refuses, OVERWRITE replaces") {
    val (stock, fast, launches) = both() { (fc, dir) =>
      val root = new HPath(dir.toString)
      val (src, dst, fresh) =
        (new HPath(root, "src"), new HPath(root, "dst"), new HPath(root, "fresh"))
      write(fc, src, "new")
      write(fc, dst, "old")
      val refused = intercept[FileAlreadyExistsException](
        fc.rename(src, dst, Rename.NONE)).getClass
      fc.rename(src, dst, Rename.OVERWRITE)
      write(fc, src, "again")
      fc.rename(src, fresh, Rename.NONE)
      (refused, modes(dir).keySet,
        Seq("dst", "fresh").map(n => new String(Files.readAllBytes(dir.resolve(n)), UTF_8)))
    }
    assert(fast === stock)
    assert(fast._2 === Set("dst", ".dst.crc", "fresh", ".fresh.crc"))
    assert(fast._3 === Seq("new", "again"))
    assert(launches.isEmpty, launches)
  }

  test("a sticky-bit permission takes the stock chmod path") {
    val raw = new LocalFs.RawFileSystem
    raw.initialize(FsConstants.LOCAL_FS_URI, new Configuration())
    Seq[FileSystem](raw, fileSystem(fast = true)).foreach { fs =>
      val dir = Files.createDirectories(Paths.get(Scratch.dir("localfs_sticky")))
      def set(octal: String): Seq[String] = {
        val p = new HPath(dir.toString)
        val perm = new FsPermission(Integer.parseInt(octal, 8).toShort)
        ProcessLaunches.chmodOrReadlink(
          ProcessLaunches.during(fs.setPermission(p, perm))._2)
          .filter(_.contains(dir.toString))
      }
      val name = fs.getClass.getSimpleName
      assert(set("1750").size === 1, name)
      assert(mode(dir) === Integer.parseInt("1750", 8), name)
      assert(set("0700").isEmpty, name)
      assert(mode(dir) === Integer.parseInt("0700", 8), name)
    }
  }
}
