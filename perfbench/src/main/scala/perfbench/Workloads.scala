package perfbench

import java.io.File

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Caches
import graft.pipeline.StarSchema

/** One timed call into the program; `ok` is false when the call threw or
  * its output did not match what the inputs predict. */
final case class Op(kind: String, family: String, ms: Double, ok: Boolean)

/** A workload: seeded inputs, a unit of work (a pass) repeated in a closed
  * loop by one client thread, the check of every unit's outputs, and the
  * figures it reports. */
abstract class Workload(val spark: SparkSession, val seed: Long) {
  def name: String
  /** Write the inputs under `dir`. Called several times during set-up, each
    * time into a fresh directory; the first directory is the one used. */
  def generate(dir: String): Unit
  /** Untimed work after generation, on the first input directory. */
  def prepare(dir: String): Unit = ()
  /** Untimed units run during set-up, until the JIT has compiled the hot
    * paths: on a 4-core machine the first pass of a fresh JVM runs several
    * times slower than later ones, and the next few are still faster each
    * time. */
  def warmUnits: Int
  /** Run unit `i` writing under `out`; units 0 until warmUnits are the warm
    * ones. */
  def unit(i: Int, out: String, t: Tracer): Seq[Op]
  /** Work items in one unit: what an item is depends on the workload. */
  def itemsPerUnit: Double
  /** Timed operations in one unit. */
  def opsPerUnit: Int
  /** Nominal length of a unit on a 4-core machine. The timed phase runs
    * ceil(seconds / unitSeconds) units, so every run of a workload computes
    * its figures over the same number of units. */
  def unitSeconds: Double
  /** Per-layer figures this workload derives from its own spans. */
  def layers(spans: Seq[Span]): Seq[(String, Double)] = Nil

  /** Run `body` as one operation; a throw fails the operation. */
  protected def timed(t: Tracer, kind: String, family: String)(body: => Boolean): Op = {
    var ok = false
    val (_, s) = t.span(kind, newOp = true) {
      try ok = body
      catch {
        case NonFatal(e) =>
          System.err.println(s"[perfbench] $kind failed: ${e.toString.linesIterator.take(1).mkString}")
      }
    }
    Op(kind, family, s.ms, ok)
  }

  protected def medianMs(spans: Seq[Span], name: String): Double = {
    val xs = spans.filter(_.name == name).map(_.ms)
    if (xs.isEmpty) 0.0 else Stats.median(xs)
  }

  protected def check(what: String, got: Long, want: Long): Boolean = {
    if (got != want) System.err.println(s"[perfbench] $name: $what = $got, expected $want")
    got == want
  }
}

object Workloads {
  val names: Seq[String] = Seq("star_etl", "query_mix")

  def apply(name: String, spark: SparkSession, seed: Long): Workload = name match {
    case "star_etl" => new StarEtl(spark, seed)
    case "query_mix" => new QueryMix(spark, seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** The reference's song/log ETL, one pass = processSongData then
  * processLogData into a fresh output directory. */
final class StarEtl(spark: SparkSession, seed: Long) extends Workload(spark, seed) {
  val name = "star_etl"
  val sizes = Gen.StarSizes(songs = 300, artists = 15, users = 300,
    events = 20000, paidShare = 0.3, bothLevelsShare = 0.2,
    unmatchedShare = 0.25, otherPageShare = 0.1, days = 30)
  private var expected: Gen.StarExpected = _
  private var in: String = _

  def generate(dir: String): Unit = {
    val e = Gen.star(dir, seed, sizes)
    if (in == null) { in = dir; expected = e }
  }

  def unit(i: Int, out: String, t: Tracer): Seq[Op] = {
    val song = timed(t, "star.song_stage", "star") {
      StarSchema.processSongData(spark, s"$in/song_data/*/*/*/*.json", out); true
    }
    val log = timed(t, "star.log_stage", "star") {
      StarSchema.processLogData(spark, s"$in/log_data/*/*/*.json", out); true
    }
    val ok = song.ok && log.ok && {
      def n(tbl: String) = spark.read.parquet(s"$out/$tbl").count()
      Seq(check("songs", n("songs"), expected.songs),
        check("artists", n("artists"), expected.artists),
        check("users", n("users"), expected.users),
        check("time", n("time"), expected.time),
        check("songplays", n("songplays"), expected.songplays),
        check("unmatched songplays",
          spark.read.parquet(s"$out/songplays").filter(col("song_id").isNull).count(),
          expected.unmatchedPlays)).forall(identity)
    }
    // the tables are checked once both stages have run; a mismatch fails the pass
    Seq(song, log.copy(ok = ok))
  }

  def itemsPerUnit: Double = sizes.events
  val opsPerUnit = 2
  val unitSeconds = 5.0
  val warmUnits = 1

  override def layers(spans: Seq[Span]) = Seq(
    "star.song_stage_ms" -> medianMs(spans, "star.song_stage"),
    "star.log_stage_ms" -> medianMs(spans, "star.log_stage"))
}

/** A fixed list of operations, stratified by family, run in a seeded order
  * each pass: registry queries over seeded harness tables, whose result
  * fingerprints must equal the warm pass's, plus two chains of public calls
  * checked against what their seeded inputs predict. `curate` runs the
  * curation operators on a corpus, writing parquet between stages;
  * `table_ops` runs a commit and read sequence on a fresh versioned table. */
final class QueryMix(spark: SparkSession, seed: Long) extends Workload(spark, seed) {
  import QueryMix._
  val name = "query_mix"
  val sf = 0.002
  val mix: Seq[(String, Seq[String])] = Seq(
    "relational" -> Seq("q_sql"),
    "events" -> Seq("q_gaps"),
    "eval" -> Seq("q_mcc"),
    "sketches" -> Seq("q_hll_merge"),
    "vectors" -> Seq("q_knn"),
    "curation" -> Seq(Curate),
    "tables" -> Seq(TableOps),
    "graph" -> Seq("q_bfs"),
    "streaming" -> Seq("q_stream_dedup"))
  val curateSizes = Gen.CurateSizes(groups = 200, exactDupShare = 0.3,
    nearDupShare = 0.3, junkShare = 0.2)
  val packBudget = 512
  val tableSizes = Gen.TableSizes(initial = 2000, batch = 500)
  private val familyOf = mix.flatMap { case (f, ks) => ks.map(_ -> f) }.toMap
  private lazy val registry = graft.SparkEntry.queries
  private var tables: String = _
  private val reference = mutable.Map.empty[String, (Long, Long)]
  private val liveCaches = mutable.ArrayBuffer.empty[Int]
  private var resolveMs = 0.0
  private var curateExpected: Gen.CurateExpected = _
  private var packFill = 0.0
  private val steps = Gen.tableOps(seed, tableSizes)
  /** (rows, sum of k, sum of v * (k % 97 + 1)) of each table version. */
  private val versions: IndexedSeq[(Long, Long, Long)] = {
    val m = mutable.LongMap.empty[Long]
    steps.filter(s => !s.kind.startsWith("read")).map { s =>
      s.kind match {
        case "create" | "append" | "upsert" => s.rows.foreach { case (k, v) => m(k) = v }
        case "delete" => m.keys.filter(_ % s.mod == s.rem).toList.foreach(m.remove)
        case _ => // compact leaves the rows as they are
      }
      (m.size.toLong, m.keys.sum, m.map { case (k, v) => v * (k % 97 + 1) }.sum)
    }.toIndexedSeq
  }
  private var tableFiles = 0.0
  private var tableBytesPerLive = 0.0
  private var tableBytesPerCommit = 0.0

  def generate(dir: String): Unit = {
    HarnessTables.write(spark, dir, seed, sf)
    val (docs, expected) = Gen.curation(seed, curateSizes)
    import spark.implicits._
    docs.toDS().repartition(4).write.parquet(s"$dir/corpus")
    if (tables == null) { tables = dir; curateExpected = expected }
  }

  override def prepare(dir: String): Unit = {
    val t0 = System.nanoTime()
    graft.engine.Tables.names.foreach(n => graft.engine.Tables(spark, tables, n))
    resolveMs = (System.nanoTime() - t0) / 1e6
  }

  def unit(i: Int, out: String, t: Tracer): Seq[Op] = {
    val keys = mix.flatMap(_._2)
    val order = new scala.util.Random(seed * 1000003L + i).shuffle(keys)
    order.map { k =>
      val dir = s"$out/$k"
      var got = (0L, 0L)
      val o = timed(t, k, familyOf(k)) {
        k match {
          case Curate => curate(t, dir)
          case TableOps => tableOps(t, dir)
          case _ =>
            val (df, _) = t.span("registry.build")(registry(k)(spark, tables))
            got = t.span("registry.exec")(RowHash.of(df))._1
            t.countPhases(df.queryExecution)
            true
        }
      }
      liveCaches += Caches.liveCount
      val ok = o.ok && (k match {
        case Curate => checkCurate(dir)
        case TableOps => measureTable(s"$dir/table"); true
        case _ => reference.get(k) match {
          case None => reference(k) = got; true
          case Some(want) =>
            if (want != got) System.err.println(s"[perfbench] $k: result $got, warm pass gave $want")
            want == got
        }
      })
      o.copy(ok = ok)
    }
  }

  /** Gopher gate, exact dedup, MinHash-LSH near-dup drop and sequence
    * packing, each stage reading the parquet the previous one wrote. */
  private def curate(t: Tracer, out: String): Boolean = {
    import graft.operators.{Dedup, Packing, QualityFilters}
    t.span("curate.gate") {
      QualityFilters.gopherLite(spark.read.parquet(s"$tables/corpus"), "text")
        .write.parquet(s"$out/gate")
    }
    t.span("curate.exact") {
      Dedup.exactDedup(spark.read.parquet(s"$out/gate"), "text", "doc_id")
        .write.parquet(s"$out/exact")
    }
    t.span("curate.near_dup") {
      val exact = spark.read.parquet(s"$out/exact")
      val losers = Dedup.minHashLsh(exact, "text", "doc_id", 0.8)
        .select(col("db").as("doc_id")).distinct()
      try exact.join(losers, Seq("doc_id"), "left_anti").write.parquet(s"$out/near")
      finally Caches.releaseAll()
    }
    t.span("curate.pack") {
      Packing.packSequences(spark.read.parquet(s"$out/near"), "doc_id", "n_tokens",
        packBudget, shards = 4).write.parquet(s"$out/pack")
    }
    true
  }

  /** Each stage kept the documents the generator predicts; every survivor
    * was packed once and no bin is over budget. */
  private def checkCurate(out: String): Boolean = {
    val e = curateExpected
    def n(stage: String) = spark.read.parquet(s"$out/$stage").count()
    val pack = spark.read.parquet(s"$out/pack")
    val bins = pack.groupBy("bin_id").agg(sum("n_tokens").as("used"))
    val (nBins, fullest) = {
      val r = bins.agg(count(lit(1)), max("used")).head()
      (r.getLong(0), r.getLong(1))
    }
    val tokens = pack.agg(sum("n_tokens")).head().getLong(0)
    packFill = tokens.toDouble / (nBins * packBudget)
    Seq(check("curate gate", n("gate"), e.keptGate),
      check("curate exact", n("exact"), e.keptExact),
      check("curate near_dup", n("near"), e.keptNear),
      check("curate packed docs", pack.count(), e.keptNear),
      check("curate packed tokens", tokens, e.survivorTokens),
      check("curate over-budget bins", if (fullest > packBudget) 1L else 0L, 0L)).forall(identity)
  }

  /** The seeded sequence on a fresh table; every read is compared with the
    * model of the version it reads. */
  private def tableOps(t: Tracer, root: String): Boolean = {
    import spark.implicits._
    val vt = graft.tables.VersionedTable
    val table = s"$root/table"
    def digest(df: DataFrame): (Long, Long, Long) = {
      val r = df.agg(count(lit(1)), sum("k"), sum(col("v") * (col("k") % 97 + 1))).head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    steps.map { s =>
      def rows = s.rows.toDF("k", "v")
      s.kind match {
        case "create" => t.span("vt.create")(vt.create(spark, table, rows)); true
        case "append" => t.span("vt.append")(vt.append(spark, table, rows)); true
        case "upsert" => t.span("vt.upsert")(vt.upsert(spark, table, rows, Seq("k"))); true
        case "delete" =>
          t.span("vt.delete")(vt.deleteWhere(spark, table, col("k") % s.mod === s.rem)); true
        case "compact" => t.span("vt.compact")(vt.compact(spark, table)); true
        case "read_latest" =>
          val got = t.span("vt.read_latest")(digest(vt.readLatest(spark, table)))._1
          val v = vt.latestVersion(spark, table)
          check(s"table v$v rows", got._1, versions(v - 1)._1) &&
            check(s"table v$v checksum", got._3 * 31 + got._2, versions(v - 1)._3 * 31 + versions(v - 1)._2)
        case "read_version" =>
          val got = t.span("vt.read_version")(digest(vt.readVersion(spark, table, s.version)))._1
          val want = versions(s.version - 1)
          check(s"table v${s.version} rows", got._1, want._1) &&
            check(s"table v${s.version} checksum", got._3 * 31 + got._2, want._3 * 31 + want._2)
      }
    }.forall(identity)
  }

  /** Files and bytes of the table the last pass left: what the latest
    * version reads against what is stored. */
  private def measureTable(table: String): Unit = {
    val vt = graft.tables.VersionedTable
    def files(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(files) else Seq(f)
    def data(fs: Seq[File]) = fs.filter(_.getName.endsWith(".parquet"))
    val live = data(vt.dataDirsOf(spark, table).flatMap(d => files(new File(table, d))))
    val all = files(new File(table))
    tableFiles = live.size
    tableBytesPerLive = all.map(_.length).sum.toDouble / live.map(_.length).sum
    tableBytesPerCommit = all.map(_.length).sum.toDouble / vt.latestVersion(spark, table)
  }

  def itemsPerUnit: Double = mix.map(_._2.size).sum
  def opsPerUnit: Int = mix.map(_._2.size).sum
  val unitSeconds = 10.0
  val warmUnits = 1

  override def layers(spans: Seq[Span]) = {
    val ops = spans.filter(s => s.parent < 0 && s.op > 0)
    val passes = math.max(1.0, ops.size.toDouble / mix.map(_._2.size).sum)
    def perPass(name: String) = spans.filter(_.name == name).map(_.ms).sum / passes
    val e = curateExpected
    Seq("registry.build_ms" -> perPass("registry.build"),
      "registry.exec_ms" -> perPass("registry.exec"),
      "tables.resolve_ms" -> resolveMs,
      "caches.live_after_op" -> (if (liveCaches.isEmpty) 0.0 else liveCaches.max.toDouble)) ++
      mix.map { case (f, ks) =>
        s"mix.${f}_ms" -> ops.filter(s => ks.contains(s.name)).map(_.ms).sum / passes
      } ++
      Seq("gate", "exact", "near_dup", "pack").map(s => s"curate.${s}_ms" -> medianMs(spans, s"curate.$s")) ++
      Seq("curate.kept_gate" -> e.keptGate.toDouble, "curate.kept_exact" -> e.keptExact.toDouble,
        "curate.kept_near" -> e.keptNear.toDouble, "curate.pack_fill" -> packFill) ++
      Seq("append", "upsert", "delete", "compact", "read_latest", "read_version")
        .map(s => s"vt.${s}_ms" -> medianMs(spans, s"vt.$s")) ++
      Seq("vt.files_live" -> tableFiles, "vt.versions" -> versions.size.toDouble,
        "vt.bytes_per_live_byte" -> tableBytesPerLive, "vt.bytes_per_commit" -> tableBytesPerCommit)
  }
}

object QueryMix {
  val Curate = "curate"
  val TableOps = "table_ops"
}
