package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.Barriers
import graft.operators.{Dedup, Graph}

/** The reliable-checkpoint seam (r7 VERDICT #3): iterative operators cut
  * per-round lineage through [[Barriers.cut]], which is executor-resident
  * `localCheckpoint` locally and durable `checkpoint` when the session
  * has a checkpoint directory — results must be identical either way,
  * and every entry point is one counted materialization in both modes.
  */
class BarriersSpec extends SparkTestBase {
  import spark.implicits._

  private def withCheckpointDir[A](body: => A): A = {
    val dir = Files.createTempDirectory("graft-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    try body
    finally {
      // Option(null) = None — restores the local-mode default so the
      // shared session's other suites keep using localCheckpoint
      spark.sparkContext.setCheckpointDir(null)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  /** Calls `barrier` on a fresh 3,000-row, 4-partition frame whose rows
    * tick an accumulator, and checks the single-materialization contract:
    * 1 job locally, at most 2 reliably (count + checkpoint-file write),
    * the plan evaluated once, and a leaf that carries the measured row
    * count. Jobs are counted by job group; a marker job in a second group
    * flushes the listener bus (events arrive in order). */
  private def assertOneMaterialization(barrier: DataFrame => DataFrame): Unit = {
    val rows = 3000L
    val evaluated = spark.sparkContext.longAccumulator("graft.rowsEvaluated")
    val tick = udf { (x: Long) => evaluated.add(1L); x }.asNondeterministic()
    val df = spark.range(0L, rows, 1L, 4).select(tick(col("id")).as("k"))
    val sc = spark.sparkContext
    val (group, marker) = ("graft-barrier", "graft-barrier-marker")
    val jobs = new AtomicInteger(0)
    val markerJob = new AtomicInteger(-1)
    val markerDone = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        e.properties.getProperty("spark.jobGroup.id") match {
          case `group` => jobs.incrementAndGet()
          case `marker` => markerJob.set(e.jobId)
          case _ =>
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == markerJob.get) markerDone.countDown()
    }
    sc.addSparkListener(listener)
    val leaf = try {
      sc.setJobGroup(group, group)
      val leaf = try barrier(df) finally sc.clearJobGroup()
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(markerDone.await(60, TimeUnit.SECONDS))
      leaf
    } finally sc.removeSparkListener(listener)
    if (sc.getCheckpointDir.isDefined) assert(jobs.get <= 2, "jobs per call")
    else assert(jobs.get === 1, "jobs per call")
    assert(evaluated.value === rows, "the plan ran more than once")
    assert(leaf.queryExecution.optimizedPlan.stats.rowCount === Some(BigInt(rows)))
    assert(leaf.count() === rows)
  }

  test("Barriers.cut picks reliable checkpoint iff a checkpoint dir is set") {
    val df = Seq(1, 2, 3).toDF("x")
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    assert(Barriers.cut(df).as[Int].collect().sorted === Seq(1, 2, 3))
    withCheckpointDir {
      val ckptRoot = new java.io.File(
        new java.net.URI(spark.sparkContext.getCheckpointDir.get))
      assert(Barriers.cut(df).as[Int].collect().sorted === Seq(1, 2, 3))
      // reliable mode is observable: RDD blocks land under the dir
      val files = org.apache.commons.io.FileUtils
        .listFiles(ckptRoot, null, true)
      assert(!files.isEmpty, s"no checkpoint files under $ckptRoot")
      assertOneMaterialization(Barriers.cut)
    }
    assertOneMaterialization(Barriers.cut)
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
  }

  test("iterative operators: identical results local vs reliable checkpoint") {
    // two components + an isolated self-referencing pair; enough rounds
    // for several barrierCut calls per operator
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (20L, 21L)).toDF("src", "dst")
    val docs = edges // connectedComponents input: pair relation

    def run(): (Seq[(Long, Long)], Seq[(Long, Double)], Seq[(Long, Int)]) = {
      val cc = Dedup.connectedComponents(docs, "src", "dst")
        .as[(Long, Long)].collect().toSeq.sorted
      val pr = Graph.pageRank(edges, "src", "dst", iterations = 3)
        .select(col("id"), round(col("rank"), 12).as("rank"))
        .as[(Long, Double)].collect().toSeq.sorted
      val bfs = Graph.bfsHops(edges, "src", "dst",
          Seq(1L, 20L).toDF("id"), "id", maxHops = 3)
        .as[(Long, Int)].collect().toSeq.sorted
      graft.engine.Caches.releaseAll()
      (cc, pr, bfs)
    }

    val localMode = run()
    val reliableMode = withCheckpointDir(run())
    assert(localMode === reliableMode)
  }

  test("Barriers.cutCounted: rows + count identical in both modes") {
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "s")
      .filter(col("k") =!= 2L)
    def check(): Unit = {
      val (cut, n) = Barriers.cutCounted(df)
      assert(n === 2L)
      assert(cut.as[(Long, String)].collect().toSeq.sorted ===
        Seq((1L, "a"), (3L, "c")))
      // the frame is a flat leaf (lineage cut) and REUSABLE
      assert(cut.count() === 2L)
      // honest leaf stats: the measured row count rides the plan
      assert(cut.queryExecution.optimizedPlan.stats
        .sizeInBytes.bitLength <= 127)
      val (cutE, nE) = Barriers.cutCounted(df.filter(col("k") < 0))
      assert(nE === 0L && cutE.isEmpty)
      assertOneMaterialization { d =>
        val (c, n) = Barriers.cutCounted(d)
        assert(n === 3000L)
        c
      }
    }
    check() // localCheckpoint path
    withCheckpointDir(check()) // reliable path
  }

  test("Barriers.cutFingerprinted: rows/count/fingerprint agree across " +
      "partitionings and modes; MUST-confirm contract holds") {
    val a = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "v")
    val hash: org.apache.spark.sql.catalyst.InternalRow => Long =
      r => r.getLong(0) * 1000003L + r.getLong(1)
    def run(df: org.apache.spark.sql.DataFrame): (Seq[(Long, Long)], Long, Long) = {
      val (cut, n, x) = Barriers.cutFingerprinted(df, hash)
      (cut.as[(Long, Long)].collect().toSeq.sorted, n, x)
    }
    val (rows1, n1, x1) = run(a.repartition(3))
    val (rows2, n2, x2) = run(a.repartition(1))
    assert(rows1 === Seq((1L, 10L), (2L, 20L), (3L, 30L)))
    assert(rows1 === rows2 && n1 === 3L && n2 === 3L)
    // the XOR fold is ORDER-INDEPENDENT: identical content under any
    // partitioning yields the identical fingerprint...
    assert(x1 === x2)
    // ...and different content (almost surely) does not — the signal
    // callers use as a CHEAP mismatch hint, never as convergence proof:
    // a retried task can double-fold its partition (XOR twice = absent),
    // so the contract REQUIRES an exact confirm (exceptAll) before
    // acting on a MATCH, as connectedComponents does.
    val (_, _, x3) = run(a.filter(col("k") =!= 2L))
    assert(x3 !== x1)
    // reliable-checkpoint mode: same rows, same count, same fingerprint
    val (rows4, n4, x4) = withCheckpointDir(run(a.repartition(2)))
    assert(rows4 === rows1 && n4 === 3L && x4 === x1)
    // one materialization in both modes; the fold sees each row once
    val expected = (0L until 3000L).foldLeft(0L)((acc, k) => acc ^ (k * 1000003L))
    def fingerprinted(d: DataFrame): DataFrame = {
      val (c, n, x) = Barriers.cutFingerprinted(d, r => r.getLong(0) * 1000003L)
      assert(n === 3000L && x === expected)
      c
    }
    assertOneMaterialization(fingerprinted)
    withCheckpointDir(assertOneMaterialization(fingerprinted))
  }

  test("Barriers.cut caps inherited sizeInBytes across cut-join-cut rounds") {
    // a leaf that inherits the input plan's sizeInBytes (what
    // Dataset.checkpoint does) would compound it multiplicatively across
    // an iterated cut->join->cut loop, since joins take the PRODUCT of
    // child sizes — by round ~20 the BigInt has millions of digits and
    // the next cut's eager stats pass hangs in BigInteger.multiply (the
    // r15 SCC trim regression). The bound holds because every cut leaf
    // carries measured stats (its row count × schema width).
    var df = Barriers.cut(Seq((1L, 2L), (2L, 3L)).toDF("u", "v"))
    for (_ <- 1 to 25) {
      val other = df.select(col("u").as("u2"), col("v").as("v2"))
      df = Barriers.cut(
        df.join(other, col("u") === col("u2"))
          .join(other.select(col("u2").as("u3"), col("v2").as("v3")),
            col("u") === col("u3"))
          .select(col("u"), col("v")).limit(4))
      assert(df.queryExecution.optimizedPlan.stats
        .sizeInBytes.bitLength <= 127,
        "inherited sizeInBytes escaped the cap")
    }
    assert(df.count() >= 0L) // the loop stays executable and fast
  }
}
