package graft

import java.net.URI
import java.util.EnumSet
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FSDataOutputStream, FilterFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.Options.ChecksumOpt
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Test-only crash injector: the local filesystem under the `faulty`
  * scheme, throwing on the N-th mutating call (create, createNewFile,
  * mkdirs, delete, rename) whose target is a DIRECT child of the armed
  * root — the entries an index's commit protocol names (markers,
  * `gen-*`, `tomb-*`, the flat layout). Deeper paths (the files a
  * Spark write stages) pass through uncounted, so the fault points are
  * exactly the protocol's own steps. Register with [[FaultyFs.register]]
  * and address paths as `faulty:///abs/path`. */
class FaultyFileSystem extends FilterFileSystem(new RawLocalFileSystem {
  override def getUri: URI = FaultyFs.Uri
}) {
  private def check(p: Path): Unit = FaultyFs.onMutation(p)

  override def create(f: Path, perm: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    check(f)
    fs.create(f, perm, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def create(f: Path, perm: FsPermission,
      flags: EnumSet[CreateFlag], bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable,
      checksumOpt: ChecksumOpt): FSDataOutputStream = {
    check(f)
    fs.create(f, perm, flags, bufferSize, replication, blockSize, progress,
      checksumOpt)
  }

  override def createNonRecursive(f: Path, perm: FsPermission,
      flags: EnumSet[CreateFlag], bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    check(f)
    fs.createNonRecursive(f, perm, flags, bufferSize, replication,
      blockSize, progress)
  }

  override def mkdirs(f: Path): Boolean = { check(f); fs.mkdirs(f) }

  override def mkdirs(f: Path, perm: FsPermission): Boolean = {
    check(f); fs.mkdirs(f, perm)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    check(f); fs.delete(f, recursive)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    check(src); check(dst); fs.rename(src, dst)
  }
}

object FaultyFs {
  val Scheme = "faulty"
  val Uri: URI = URI.create(s"$Scheme:///")

  @volatile private var root: Option[String] = None
  @volatile private var failAt = 0
  @volatile private var hit = false
  private val calls = new AtomicInteger

  def register(conf: Configuration): Unit =
    conf.set(s"fs.$Scheme.impl", classOf[FaultyFileSystem].getName)

  /** `faulty:///<local dir>` */
  def path(localDir: String): String = s"$Scheme://$localDir"

  /** Count mutations of `localDir`'s direct children from now on and
    * throw on the `n`-th. */
  def arm(localDir: String, n: Int): Unit = synchronized {
    calls.set(0); hit = false; failAt = n; root = Some(localDir)
  }

  def disarm(): Unit = synchronized { root = None; failAt = 0 }

  /** Whether the last armed fault fired. */
  def fired: Boolean = hit

  private[graft] def onMutation(p: Path): Unit = root.foreach { r =>
    val parent = Option(p.getParent)
      .map(Path.getPathWithoutSchemeAndAuthority(_).toString)
    if (parent.contains(r) && calls.incrementAndGet() == failAt) {
      hit = true
      throw new java.io.IOException(s"injected fault at $p")
    }
  }
}
