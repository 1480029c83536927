package graft

import java.nio.file.{Files, LinkOption, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileContext, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

import graft.engine.LocalFs
import graft.tables.VersionedTable

/** `Tables.bootstrap` makes [[LocalFs]] the `file` scheme: local writes,
  * table commits and streaming checkpoints launch no process, and every
  * file, mode, `.crc` sidecar and rename answer is the one the stock
  * classes give. */
class LocalFsSpec extends SparkTestBase {

  private def mode(octal: String) =
    new FsPermission(Integer.parseInt(octal, 8).toShort)

  private def freshDir(name: String): java.nio.file.Path =
    Files.createTempDirectory(s"graft_localfs_$name")

  /** `body`'s process launches with Hadoop's `Shell` on the stack, as
    * "command (thread)", recorded by a Flight Recorder session. `Shell`'s
    * class initializer probes for `setsid` once per JVM; it runs before
    * the recording starts. */
  private def shellLaunches(body: => Unit): Seq[String] = {
    Class.forName("org.apache.hadoop.util.Shell")
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    val dump = Files.createTempFile("graft_forks", ".jfr")
    try {
      rec.start()
      try body finally rec.stop()
      rec.dump(dump)
      jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala.toSeq.collect {
        case e if e.getStackTrace != null && e.getStackTrace.getFrames.asScala
            .exists(_.getMethod.getType.getName == "org.apache.hadoop.util.Shell") =>
          s"${e.getString("command")} (${Option(e.getThread).map(_.getJavaName).orNull})"
      }
    } finally {
      rec.close()
      Files.deleteIfExists(dump)
    }
  }

  test("partitioned writes, table commits and a streaming checkpoint fork no Shell") {
    import spark.implicits._
    val dir = freshDir("forks")
    var parts = 0L
    var table = Seq.empty[(Long, Long)]
    var streamed = Seq.empty[Long]
    val launches = shellLaunches {
      spark.range(0, 200).select(col("id"), (col("id") % 4).as("p"))
        .write.partitionBy("p").parquet(s"$dir/parts")
      parts = spark.read.parquet(s"$dir/parts").where(col("p") === 1).count()

      val root = s"$dir/vt"
      VersionedTable.create(spark, root, Seq((1L, 10L), (2L, 20L)).toDF("k", "v"))
      VersionedTable.append(spark, root, Seq((3L, 30L)).toDF("k", "v"))
      VersionedTable.upsert(spark, root, Seq((2L, 21L), (4L, 40L)).toDF("k", "v"), Seq("k"))
      VersionedTable.deleteWhere(spark, root, col("k") === 1L)
      VersionedTable.compact(spark, root)
      table = VersionedTable.readLatest(spark, root).as[(Long, Long)].collect().toSeq

      Seq(1L, 2L, 2L, 3L).toDF("k").write.parquet(s"$dir/in")
      val q = spark.readStream.schema("k LONG").parquet(s"$dir/in")
        .dropDuplicates("k").writeStream
        .format("parquet").option("path", s"$dir/out")
        .option("checkpointLocation", s"$dir/chk")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      streamed = spark.read.parquet(s"$dir/out").as[Long].collect().toSeq
    }
    assert(parts === 50L)
    assert(table.sorted === Seq((2L, 21L), (3L, 30L), (4L, 40L)))
    assert(streamed.sorted === Seq(1L, 2L, 3L))
    assert(launches.isEmpty, launches.mkString("\n"))
  }

  test("the file scheme is LocalFs from the context, session and FileContext confs") {
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val queryConf = spark.sessionState.newHadoopConf()
    for (conf <- Seq(hadoopConf, queryConf)) {
      val fs = new Path("file:///").getFileSystem(conf)
      assert(fs.getClass === classOf[LocalFs.Checked])
      assert(fs.asInstanceOf[LocalFileSystem].getRaw.getClass === classOf[LocalFs])
    }
    assert(FileContext.getFileContext(queryConf).getDefaultFileSystem.getClass ===
      classOf[LocalFs.Context])
  }

  test("files, modes, bytes, renames and symlink answers match the stock classes") {
    val dir = freshDir("modes")
    val conf = spark.sparkContext.hadoopConfiguration
    val ours = FileSystem.getLocal(conf)
    assert(ours.getClass === classOf[LocalFs.Checked])
    // the classes the deployment resolves for `file` when the two keys
    // hold Hadoop's defaults
    val stockConf = new org.apache.hadoop.conf.Configuration(conf)
    val defaults = new org.apache.hadoop.conf.Configuration()
    LocalFs.Impls.foreach { case (k, _) =>
      Option(defaults.get(k)).fold(stockConf.unset(k))(stockConf.set(k, _))
    }
    val stock = FileSystem.newInstance(java.net.URI.create("file:///"), stockConf)
    val stockFc = FileContext.getFileContext(stockConf)
    assert(stock.getClass !== ours.getClass)
    assert(stockFc.getDefaultFileSystem.getClass.getName === "org.apache.hadoop.fs.local.LocalFs")
    def exercise(fs: FileSystem, fc: FileContext, base: Path): Seq[Boolean] = {
      assert(fs.mkdirs(new Path(base, "a/b/c")))
      assert(fs.mkdirs(new Path(base, "m"), mode("750")))
      assert(fs.mkdirs(new Path(base, "sticky")))
      fs.setPermission(new Path(base, "sticky"), mode("1777"))
      val out = fs.create(new Path(base, "a/b/f.bin"))
      out.write(Array[Byte](1, 2, 3))
      out.close()
      val ex = fs.create(new Path(base, "m/g.bin"), mode("640"), false,
        4096, 1.toShort, 1L << 20, null)
      ex.write(7)
      ex.close()
      val fcOut = fc.create(new Path(base, "ctx/h.bin"),
        java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE),
        org.apache.hadoop.fs.Options.CreateOpts.createParent())
      fcOut.write(9)
      fcOut.close()
      fc.rename(new Path(base, "ctx/h.bin"), new Path(base, "ctx/i.bin"),
        org.apache.hadoop.fs.Options.Rename.NONE)
      Seq(fs.rename(new Path(base, "a/b/f.bin"), new Path(base, "a/f.bin")),
        // onto an existing file, then onto a directory
        fs.rename(new Path(base, "ctx/i.bin"), new Path(base, "m/g.bin")),
        fs.rename(new Path(base, "ctx/i.bin"), new Path(base, "a/b/c")))
    }
    val (stockBase, ourBase) = (dir.resolve("stock"), dir.resolve("ours"))
    val stockRenames = exercise(stock, stockFc, new Path(stockBase.toUri))
    assert(exercise(ours, FileContext.getFileContext(spark.sessionState.newHadoopConf()),
      new Path(ourBase.toUri)) === stockRenames)
    def tree(base: java.nio.file.Path): Seq[(String, Int, Seq[Byte])] =
      Files.walk(base).iterator.asScala.filterNot(_ == base).map { p =>
        val mode = Files.getAttribute(p, "unix:mode", LinkOption.NOFOLLOW_LINKS)
          .asInstanceOf[Int]
        val bytes = if (Files.isRegularFile(p)) Files.readAllBytes(p).toSeq else Nil
        (base.relativize(p).toString, mode & 0xfff, bytes)
      }.toSeq.sortBy(_._1)
    val stockTree = tree(stockBase)
    assert(stockTree.map(_._1).contains("a/.f.bin.crc"))
    assert(stockTree.exists { case (n, m, _) => n == "sticky" && (m & 0x200) != 0 })
    assert(tree(ourBase) === stockTree)

    // a symbolic link: both answer through stock's own resolution
    Files.createSymbolicLink(dir.resolve("link"), Paths.get("ours/a/f.bin"))
    for (p <- Seq(new Path(dir.resolve("link").toUri), new Path(s"$dir/link"))) {
      def answer(fs: FileSystem) = {
        val st = fs.getFileLinkStatus(p)
        (st.isSymlink, st.isFile, st.getLen, if (st.isSymlink) st.getSymlink.toString else "")
      }
      assert(answer(ours) === answer(stock), p)
    }
    stock.close()
  }
}
