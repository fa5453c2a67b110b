package graft.core

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local file system over a raw one that sets POSIX
  * permissions through `java.nio`. Without libhadoop, Hadoop's own
  * `RawLocalFileSystem.setPermission` forks a `chmod` per file and
  * directory it creates: about 118 processes per daily run, 100 of them in
  * ingest's `partitionBy` write. Hadoop applies the umask before it calls
  * `setPermission`, so the bits are the same; checksums, renames and the
  * commit protocol are Hadoop's.
  *
  * `src/main/resources/core-site.xml` names this class in `fs.file.impl`,
  * so every `new Configuration()` in a JVM with graft on its classpath
  * resolves `file:` to it; without the entry, `file:` resolves through
  * the jars' FileSystem service registrations (Hive's
  * `ProxyLocalFileSystem` among Spark's jars). Hadoop reads only the first
  * `core-site.xml` on the classpath: an earlier one shadows this
  * registration, and this one shadows any later one (no jar Spark ships
  * has one). FileContext (`fs.AbstractFileSystem.file.impl`, which
  * streaming checkpoints write through) keeps Hadoop's own. */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  /** Falls back to Hadoop's `setPermission` for the sticky bit, which
    * `PosixFilePermissions` cannot express, and where the file store has
    * no POSIX attributes. */
  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, perm: FsPermission): Unit =
      if (perm.getStickyBit) super.setPermission(p, perm)
      else
        try Files.setPosixFilePermissions(pathToFile(p).toPath,
          PosixFilePermissions.fromString(perm.toString))
        catch { case _: UnsupportedOperationException => super.setPermission(p, perm) }
  }
}
