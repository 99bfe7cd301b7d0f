package graft.sources

import java.io.{File, FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{Files, InvalidPathException}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FSLinkResolver, FsConstants, FsServerDefaults, LocalFileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without the process forks.
  *
  * Without the native `libhadoop` library (Spark's distribution ships
  * none), Hadoop's `RawLocalFileSystem` falls back to
  * `org.apache.hadoop.util.Shell` for two calls on the streaming path:
  *  - `setPermission` forks `chmod` for every file and directory it
  *    creates (and `create`/`mkdirs` with a permission call it);
  *  - `getFileLinkStatus` forks `readlink`, which FileContext's `rename`
  *    calls on both its source and its destination, and again for the
  *    `.crc` side file.
  * A micro-batch of `CraneStream.start` writes its offset, commit and
  * source logs, its state-store delta files, the sink's parquet commit
  * and the version marker through these calls: about 80 forks per
  * trigger, each a few milliseconds in a Spark-sized JVM, against
  * microseconds for the NIO call that does the same thing.
  *
  * [[Raw]] overrides exactly those two methods with their NIO
  * equivalents and gives the same answers; [[Checksummed]] (the
  * `FileSystem` API) and [[Fc]] (the `FileContext` API) wrap it exactly
  * as Hadoop's `LocalFileSystem` and `local.LocalFs` wrap the stock one,
  * so `.crc` files and the on-disk layout are unchanged. [[routing]]
  * selects them for the `file:` scheme; other schemes are untouched. */
object LocalFs {

  /** Hadoop configuration entries that route `file:` through this
    * filesystem. The cache is disabled because `FileSystem.get` caches by
    * scheme and user, not by configuration: a JVM that had opened `file:`
    * before would otherwise keep handing out the stock instance. */
  val routing: Map[String, String] = Map(
    "fs.file.impl" -> classOf[Checksummed].getName,
    "fs.AbstractFileSystem.file.impl" -> classOf[Fc].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** A copy of `base` with [[routing]] applied. */
  def conf(base: Configuration): Configuration = {
    val c = new Configuration(base)
    routing.foreach { case (k, v) => c.set(k, v) }
    c
  }

  /** `RawLocalFileSystem` with its two forking calls done through NIO. */
  class Raw extends RawLocalFileSystem {

    /** The same chmod, on the same (link-following) target, sticky bit
      * included. */
    override def setPermission(p: Path, permission: FsPermission): Unit =
      Files.setAttribute(pathToFile(p).toPath, "unix:mode",
        Integer.valueOf(permission.toShort & 0xfff))

    /** The stock answer, built the stock way, with `readlink` read through
      * NIO on the same `File(f.toString)`: a qualified `file:/...` string
      * names a relative path there, which is never a link, exactly as the
      * forked `readlink` answers for it. */
    override def getFileLinkStatus(f: Path): FileStatus = {
      val target = readLink(new File(f.toString))
      val fi =
        try {
          val st = getFileStatus(f)
          if (target.isEmpty) st
          else new FileStatus(st.getLen, false, st.getReplication,
            st.getBlockSize, st.getModificationTime, st.getAccessTime,
            st.getPermission, st.getOwner, st.getGroup, new Path(target), f)
        } catch {
          // a dangling link: File.exists is false, the link is still there
          case e: FileNotFoundException =>
            if (target.isEmpty) throw e
            new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault,
              "", "", new Path(target), f)
        }
      if (fi.isSymlink)
        fi.setSymlink(
          FSLinkResolver.qualifySymlinkTarget(getUri, fi.getPath, fi.getSymlink))
      fi
    }

    /** `FileUtil.readLink` without the fork: the link's target, or "" when
      * `f` is not a readable symbolic link. */
    private def readLink(f: File): String =
      try {
        val p = f.toPath
        if (Files.isSymbolicLink(p)) Files.readSymbolicLink(p).toString.trim
        else ""
      } catch {
        case _: IOException | _: InvalidPathException => ""
      }
  }

  /** The checksummed `FileSystem` for `file:` (Hadoop's `LocalFileSystem`
    * over [[Raw]]). */
  class Checksummed extends LocalFileSystem(new Raw)

  /** The `FileContext` filesystem for `file:`: Hadoop's `local.LocalFs`
    * over [[Raw]], a `ChecksumFs` over a `DelegateToFileSystem`. Hadoop
    * instantiates it reflectively with `(URI, Configuration)`. */
  class Fc(uri: URI, conf: Configuration) extends ChecksumFs(new RawFc(conf))

  /** Hadoop's `local.RawLocalFs` over [[Raw]]. */
  private class RawFc(conf: Configuration) extends DelegateToFileSystem(
      FsConstants.LOCAL_FS_URI, new Raw, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults =
      LocalConfigKeys.getServerDefaults()
    override def getServerDefaults(): FsServerDefaults =
      LocalConfigKeys.getServerDefaults()
    override def isValidName(src: String): Boolean = true
  }
}
