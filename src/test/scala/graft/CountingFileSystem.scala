package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, Path}

/** The local filesystem under its own scheme, recording the path of every
  * `listStatus` and `open`, and of every `exists` and `getFileStatus`
  * probe a caller makes (not the per-entry status reads `listStatus` and
  * `open` make themselves), so a spec can count the metadata reads one
  * operation makes. Spark's parquet reads and writes run through it
  * unchanged. It is the engine's fork-free raw class, so counted ops set
  * modes and resolve renames as the `file` scheme does. Top-level with a
  * no-arg constructor: Hadoop instantiates it by reflection (an inner or
  * REPL class would fail that). */
class CountingFileSystem extends graft.engine.LocalFs {
  override def getUri: java.net.URI =
    java.net.URI.create(s"${CountingFileSystem.Scheme}:///")
  override def getScheme: String = CountingFileSystem.Scheme

  override def listStatus(f: Path): Array[FileStatus] = {
    CountingFileSystem.listed.add(f.toUri.getPath)
    CountingFileSystem.unprobed(super.listStatus(f))
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    CountingFileSystem.opened.add(f.toUri.getPath)
    CountingFileSystem.unprobed(super.open(f, bufferSize))
  }

  override def exists(f: Path): Boolean = {
    CountingFileSystem.probe(f)
    super.exists(f)
  }

  override def getFileStatus(f: Path): FileStatus = {
    CountingFileSystem.probe(f)
    super.getFileStatus(f)
  }
}

object CountingFileSystem {
  val Scheme = "countfs"

  /** Paths listed and opened, in call order, across every instance (the
    * scheme is registered uncached, so each lookup is a new instance). */
  val listed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  val opened = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  /** Paths probed by `exists` or `getFileStatus`. */
  val probed = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  private val inner = ThreadLocal.withInitial[java.lang.Boolean](() => false)

  private def probe(f: Path): Unit =
    if (!inner.get) probed.add(f.toUri.getPath)

  /** `body` without recording the status reads it makes itself. */
  private def unprobed[T](body: => T): T = {
    val was = inner.get
    inner.set(true)
    try body finally inner.set(was)
  }

  def register(conf: Configuration): Unit = {
    conf.set(s"fs.$Scheme.impl", classOf[CountingFileSystem].getName)
    conf.setBoolean(s"fs.$Scheme.impl.disable.cache", true)
  }

  /** The paths `body` listed and opened. */
  def during[T](body: => T): (T, Seq[String], Seq[String]) = {
    import scala.jdk.CollectionConverters._
    val (l0, o0) = (listed.size, opened.size)
    val r = body
    (r, listed.asScala.toSeq.drop(l0), opened.asScala.toSeq.drop(o0))
  }

  /** The paths `body` probed. */
  def probedDuring(body: => Any): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val p0 = probed.size
    body
    probed.asScala.toSeq.drop(p0)
  }
}
