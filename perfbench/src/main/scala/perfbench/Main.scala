package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.lang.management.MemoryType
import java.nio.file.{Files, Paths}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

import org.apache.spark.sql.SparkSession

/** The benchmark harness: one workload, one client thread in a closed loop,
  * one JVM.
  *
  *   Main --workload NAME --seed N --seconds S --trace 0|1 --scratch DIR --out DIR
  *
  * Set-up builds the session, generates the seeded inputs (several times, the
  * median counts) and runs the workload's untimed warm units. The timed phase then runs
  * ceil(seconds / unitSeconds) units of the workload (about `seconds` on a
  * 4-core machine; the same count on every run, so every run computes the
  * same statistic). Every unit's outputs are checked
  * off the timed path. The last stdout line is the result object; with
  * `--trace 1` its metrics are the per-layer figures of a traced phase and
  * the spans are written to `DIR/trace-<workload>-<seed>.json`.
  */
object Main {
  /** Inputs are generated this many times during set-up. */
  val GenerateReps = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val scratch = opt("scratch")
    val outDir = opt("out")
    require(Workloads.names.contains(workload), s"unknown workload $workload")

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .getOrCreate()
    graft.engine.Tables.bootstrap(spark)
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3

    val w = Workloads(workload, spark, seed)
    val genS = (0 until GenerateReps).map { r =>
      val t0 = System.nanoTime()
      w.generate(s"$scratch/input-$r")
      (System.nanoTime() - t0) / 1e9
    }
    val t0 = System.nanoTime()
    w.prepare(s"$scratch/input-0")
    var unitIndex = 0
    def out(): String = { unitIndex += 1; s"$scratch/out-${unitIndex - 1}" }
    val warmTracer = new Tracer(spark, counting = false)
    val warmOps = (1 to w.warmUnits).flatMap { _ =>
      val u = w.unit(unitIndex, out(), warmTracer)
      deleteTree(new File(s"$scratch/out-${unitIndex - 1}"))
      u
    }
    val warmS = (System.nanoTime() - t0) / 1e9
    val setupS = sessionS + Stats.median(genS) + warmS
    System.err.println(f"[perfbench] set-up: session $sessionS%.2f s, generation " +
      genS.map(g => f"$g%.2f").mkString("/") + f" s, ${w.warmUnits}%d warm units $warmS%.2f s")

    val heap = new HeapAfterGc

    /** Run `n` units; returns them with their timed seconds (the sum of
      * their operations, checks excluded). */
    def runUnits(t: Tracer, n: Int): (Seq[Seq[Op]], Seq[Double]) = {
      val units = (1 to n).map { _ =>
        val u = w.unit(unitIndex, out(), t)
        deleteTree(new File(s"$scratch/out-${unitIndex - 1}"))
        u
      }
      (units, units.map(_.map(_.ms).sum / 1e3))
    }
    val n = math.max(1, math.ceil(seconds / w.unitSeconds - 1e-9).toInt)

    if (trace) heap.start()
    val plain = new Tracer(spark, counting = false)
    // a traced run alternates untraced and traced passes, n of each, so the
    // two sets see the same warm-up and machine conditions
    val counted = new Tracer(spark, counting = true)
    val runs = (1 to n).map { _ =>
      val p = runUnits(plain, 1)
      val c = if (!trace) None else {
        counted.attach()
        try Some(runUnits(counted, 1)) finally counted.detach()
      }
      (p, c)
    }
    val (plainUnits, plainSecs) = (runs.flatMap(_._1._1), runs.flatMap(_._1._2))
    if (trace) heap.stop()
    val traced = if (trace) { counted.finish(); Some(counted) } else None
    val (timedUnits, timedSecs) =
      if (!trace) (plainUnits, plainSecs)
      else (runs.flatMap(_._2.get._1), runs.flatMap(_._2.get._2))
    val all = warmOps ++ plainUnits.flatten ++ (if (trace) timedUnits.flatten else Nil)
    val failed = all.count(!_.ok)

    val report = mutable.ArrayBuffer.empty[(String, Double, String, Int)]
    report += (("setup_s", setupS, "s", GenerateReps))
    // the best pass: each operation's fastest time over the timed passes,
    // summed. Stolen CPU and late JIT compilation only ever slow a pass, so
    // the fastest one is the steadiest estimate of what the code costs.
    val bestS = timedUnits.flatten.groupBy(_.kind).values.map(_.map(_.ms).min).sum / 1e3
    report += (("items_per_s", w.itemsPerUnit / bestS, "1/s", n))
    System.err.println(s"[perfbench] $workload unit seconds: " +
      timedSecs.map(x => f"$x%.3f").mkString(" "))
    report.foreach { case (k, v, u, n) =>
      System.err.println(f"[perfbench] $workload%s $k%s = ${Json.num(v)}%s $u%s (n=$n%d)")
    }

    val metrics: Seq[(String, Double, String)] = traced match {
      case None =>
        report.filter(r => EndToEnd.contains(r._1)).map(r => (r._1, r._2, r._3)).toSeq
      case Some(t) =>
        perLayer(t, w) ++ Seq(("heap_peak_mb", heap.peakMb, "MB"),
          ("trace_overhead", timedSecs.min / plainSecs.min, "ratio"))
    }
    traced.foreach(t => writeTrace(outDir, workload, seed, t, timedUnits.flatten, metrics))
    val line = Json.obj(Seq(
      "correct" -> (if (failed == 0) "true" else "false"),
      "attempted" -> all.size.toString,
      "failed" -> failed.toString,
      "seed" -> seed.toString,
      "workload" -> Json.str(workload),
      "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })))
    spark.stop()
    println(line)
    System.out.flush()
  }

  val EndToEnd = Set("setup_s", "items_per_s")

  /** Counters per unit (mean over the traced units), driver gap per unit,
    * and the figures the workload derives from its own spans. Units are the
    * top-level operation spans grouped by pass or cycle. */
  def perLayer(t: Tracer, w: Workload): Seq[(String, Double, String)] = {
    val ops = t.spans.filter(s => s.parent < 0 && s.op > 0).toSeq
    val units = math.max(1.0, ops.size.toDouble / w.opsPerUnit)
    val total = new Counters
    ops.foreach(s => total.add(s.total))
    val counters = total.fields.map { case (k, v) => (k, v / units, unitOf(k)) } :+
      (("sched.driver_gap_ms", ops.map(_.gapMs).sum / units, "ms"))
    val own = w.layers(t.spans.toSeq).map { case (k, v) => (k, v, unitOf(k)) }
    val known = (counters ++ own).map(_._1).toSet
    counters ++ own ++
      PerLayer.filterNot(known ++ Set("heap_peak_mb", "trace_overhead"))
        .map(k => (k, 0.0, unitOf(k)))
  }

  def unitOf(name: String): String = name match {
    case "trace_overhead" | "curate.pack_fill" | "vt.bytes_per_live_byte" => "ratio"
    case "vt.bytes_per_commit" => "bytes"
    case n if n.endsWith("_ms") => "ms"
    case n if n.endsWith("bytes") => "bytes"
    case _ => "count"
  }

  /** Every per-layer metric, in the order BENCHMARK.json lists them; a
    * workload that does not exercise a layer reports 0 for it. */
  val PerLayer: Seq[String] = Seq(
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "sched.jobs", "sched.stages", "sched.tasks", "sched.driver_gap_ms",
    "exec.run_ms", "exec.cpu_ms", "exec.gc_ms",
    "shuffle.write_bytes", "shuffle.read_bytes", "spill.bytes",
    "io.input_bytes", "io.output_bytes", "io.output_rows", "io.files_written",
    "stream.batches", "stream.trigger_ms", "stream.planning_ms", "stream.commit_ms",
    "star.song_stage_ms", "star.log_stage_ms",
    "registry.build_ms", "registry.exec_ms",
    "mix.relational_ms", "mix.events_ms", "mix.eval_ms", "mix.sketches_ms",
    "mix.vectors_ms", "mix.tables_ms", "mix.graph_ms",
    "mix.streaming_ms", "mix.curation_ms",
    "curate.gate_ms", "curate.exact_ms", "curate.near_dup_ms", "curate.pack_ms",
    "curate.kept_gate", "curate.kept_exact", "curate.kept_near", "curate.pack_fill",
    "vt.append_ms", "vt.upsert_ms", "vt.delete_ms", "vt.compact_ms",
    "vt.read_latest_ms", "vt.read_version_ms",
    "vt.files_live", "vt.versions", "vt.bytes_per_live_byte", "vt.bytes_per_commit",
    "tables.resolve_ms", "caches.live_after_op", "heap_peak_mb", "trace_overhead")

  private def writeTrace(dir: String, workload: String, seed: Long, t: Tracer,
      ops: Seq[Op], metrics: Seq[(String, Double, String)]): Unit = {
    val doc = Json.obj(Seq(
      "workload" -> Json.str(workload), "seed" -> seed.toString,
      "families" -> Json.obj(ops.map(o => o.kind -> Json.str(o.family)).distinct),
      "metrics" -> Json.obj(metrics.map { case (k, v, _) => k -> Json.num(v) }),
      "spans" -> Json.arr(t.spans.map(t.spanJson))))
    Files.createDirectories(Paths.get(dir))
    val path = Paths.get(dir, s"trace-$workload-$seed.json")
    Files.writeString(path, doc + "\n")
    System.err.println(s"[perfbench] trace written to $path")
  }

  /** The largest heap in use right after a collection, from the collectors'
    * own notifications, so measuring forces no collection. */
  final class HeapAfterGc {
    @volatile var peakMb = 0.0
    private val listener: NotificationListener = (n: Notification, _: AnyRef) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
          .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum / 1048576.0
        peakMb = math.max(peakMb, used)
      }
    private def emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .collect { case e: NotificationEmitter => e }
    def start(): Unit = emitters.foreach(_.addNotificationListener(listener, null, null))
    def stop(): Unit = emitters.foreach(_.removeNotificationListener(listener))
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
