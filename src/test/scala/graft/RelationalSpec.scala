package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed

import graft.operators.Relational._

/** Unit + property tests for the reference-parity operators (SURVEY §5
  * items 2-3): the J1+J2 preference semantics with edge users, C1
  * sub-second cast, the C4 week-year trap, dedup idempotence, anti-join
  * complement, and the salted partitioned-write layout. */
class RelationalSpec extends SparkTestBase {
  import spark.implicits._

  private def checkProp(p: Prop): Unit = {
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), p)
    assert(r.passed, r.status.toString)
  }

  // J1+J2 edge users: one with both levels, one free-only, one paid-only.
  private lazy val users =
    Seq((1L, "free"), (1L, "paid"), (2L, "free"), (3L, "paid"), (1L, "paid"))
      .toDF("user_id", "level")

  test("preferValue keeps the preferred row only where both levels exist") {
    val out = preferValue(users, "user_id", "level", "paid")
      .as[(Long, String)].collect().toSet
    assert(out === Set((1L, "paid"), (2L, "free"), (3L, "paid")))
  }

  test("preferValue and preferValueWindow are equivalent (incl. null value)") {
    val withNull = users.union(Seq((4L, null.asInstanceOf[String])).toDF)
    val a = preferValue(withNull, "user_id", "level", "paid")
      .as[(Long, Option[String])].collect().toSet
    val b = preferValueWindow(withNull, "user_id", "level", "paid")
      .as[(Long, Option[String])].collect().toSet
    assert(a === b)
    assert(a.contains((4L, None))) // =!= is null-rejecting: null-only keys survive
  }

  test("preferValueAll keeps all columns and drops only non-preferred dual-key rows") {
    val df = Seq(
      (1L, "free", "x"), (1L, "paid", "y"), (2L, "free", "z"), (2L, "free", "z"))
      .toDF("user_id", "level", "name")
    val out = preferValueAll(df, "user_id", "level", "paid")
      .as[(Long, String, String)].collect().toSet
    assert(out === Set((1L, "paid", "y"), (2L, "free", "z")))
  }

  /** (key, value, payload) rows of the preferValueAll property. */
  private type R = (Option[Int], Option[String], Int)

  test("preferValueAll equals a plain-Scala model on random small frames (property)") {
    // distinct rows, then drop the non-null, non-preferred rows of every
    // non-null key that has a preferred row
    def model(rows: List[R]): List[R] = {
      val d = rows.distinct
      val preferredKeys = d.collect { case (Some(k), Some("paid"), _) => k }.toSet
      d.filterNot { case (k, v, _) =>
        k.exists(preferredKeys) && v.exists(_ != "paid")
      }.sorted
    }
    def run(rows: List[R]): List[R] =
      preferValueAll(rows.toDF("k", "level", "p"), "k", "level", "paid")
        .as[R].collect().toList.sorted
    // null keys, null values, three values on one key, duplicate rows
    val edges: List[R] = List(
      (None, Some("paid"), 0), (None, Some("free"), 0), (Some(1), None, 0),
      (Some(1), Some("paid"), 0), (Some(1), Some("free"), 1),
      (Some(1), Some("trial"), 0), (Some(1), Some("free"), 1),
      (Some(2), None, 0), (Some(2), Some("free"), 0), (Some(2), Some("trial"), 0))
    assert(run(edges) === model(edges))

    val row: Gen[R] = Gen.zip(
      Gen.option(Gen.choose(1, 3)),
      Gen.option(Gen.oneOf("paid", "free", "trial")),
      Gen.choose(0, 1))
    val frames = Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, row))
      .flatMap(rs => Gen.someOf(rs).map(dups => rs ++ dups))
    val r = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(25)
        .withInitialSeed(Seed(20181101L)),
      Prop.forAll(frames)(rows => run(rows) == model(rows)))
    assert(r.passed, r.status.toString)
  }

  test("epochMsToTs preserves sub-second milliseconds exactly (C1)") {
    val out = Seq(123L, 1500000000123L).toDF("ms")
      .select(epochMsToTs(col("ms")).as("ts")).as[java.sql.Timestamp].collect()
    assert(out(0).getTime === 123L)
    assert(out(1).getTime === 1500000000123L)
  }

  test("tsToEpochMs inverts epochMsToTs") {
    val ms = Seq(0L, 999L, 1700000000001L)
    val out = ms.toDF("ms")
      .select(tsToEpochMs(epochMsToTs(col("ms"))).as("ms2")).as[Long].collect()
    assert(out.toSeq === ms)
  }

  test("timeDims uses calendar year, not week-based year (C4 trap)") {
    // 2019-12-30 is a Monday in ISO week 2020-W01: week-based 'YYYY' would
    // yield 2020 (the reference's latent bug); calendar year must be 2019.
    val row = Seq(java.sql.Timestamp.valueOf("2019-12-30 12:00:00")).toDF("ts")
      .select(timeDims(col("ts")): _*).head
    assert(row.getAs[Int]("year") === 2019)
    assert(row.getAs[Int]("month") === 12)
    assert(row.getAs[Int]("week") === 1) // ISO week number itself is 1
    assert(row.getAs[String]("weekday") === "Monday")
    assert(row.getAs[Int]("day") === 30)
    assert(row.getAs[Int]("hour") === 12)
  }

  test("dedupAll is idempotent (property)") {
    val gen = Gen.listOf(Gen.zip(Gen.choose(0, 4), Gen.oneOf("a", "b")))
    checkProp(Prop.forAll(gen) { xs =>
      val df = (("sentinel", 99) :: xs.map(_.swap)).toDF("v", "k")
      val once = dedupAll(df).as[(String, Int)].collect().toSet
      val twice = dedupAll(dedupAll(df)).as[(String, Int)].collect().toSet
      once == twice && once == (("sentinel", 99) :: xs.map(_.swap)).toSet
    })
  }

  test("left_semi and left_anti partition the left side (property)") {
    val gen = Gen.zip(Gen.listOf(Gen.choose(0, 9)), Gen.listOf(Gen.choose(0, 9)))
    checkProp(Prop.forAll(gen) { case (left, right) =>
      val l = left.zipWithIndex.map { case (k, i) => (i.toLong, k) }.toDF("id", "k")
      val r = right.toDF("k").distinct()
      val semi = l.join(r, Seq("k"), "left_semi").select("id").as[Long].collect().toSet
      val anti = l.join(r, Seq("k"), "left_anti").select("id").as[Long].collect().toSet
      semi.intersect(anti).isEmpty &&
        (semi ++ anti) == l.select("id").as[Long].collect().toSet
    })
  }

  test("surrogateId is deterministic and injective on distinct keys") {
    val keys = (1L to 1000L).toDF("k")
    val a = keys.select(surrogateId(col("k")).as("sk")).as[Long].collect()
    val b = keys.select(surrogateId(col("k")).as("sk")).as[Long].collect()
    assert(a.toSeq === b.toSeq)
    assert(a.distinct.length === 1000)
  }

  test("skewSaltedJoin matches the plain join for inner/left/anti on skewed keys") {
    // hot key 1 dominates; key 3 has no dim match; dim key 9 has no fact rows
    val fact = ((1 to 200).map(i => (1L, s"r$i")) ++ Seq((2L, "x"), (3L, "y")))
      .toDF("k", "payload")
    val dim = Seq((1L, "one"), (2L, "two"), (9L, "nine")).toDF("k", "name")
    for (jt <- Seq("inner", "left", "left_semi", "left_anti")) {
      val plain = fact.join(dim, Seq("k"), jt)
      // cold path: default detection threshold finds no hot key here
      val salted = skewSaltedJoin(fact, dim, "k", jt)
      assert(salted.columns.toSeq === plain.columns.toSeq, jt)
      assert(salted.collect().map(_.toSeq).toSet === plain.collect().map(_.toSeq).toSet, jt)
      // hot path: key 1 explicitly hot — output must be identical
      val hot = skewSaltedJoin(fact, dim, "k", jt, hot = Some(Seq(1L).toDF("k")))
      assert(hot.collect().map(_.toSeq).toSet === plain.collect().map(_.toSeq).toSet, s"$jt hot")
    }
    intercept[IllegalArgumentException] {
      skewSaltedJoin(fact, dim, "k", "right")
    }
  }

  test("skewSaltedJoin replicates ONLY hot dim rows, bounded by |hot| x salt") {
    // r4 VERDICT item 1: the old formulation 8x-replicated the ENTIRE dim
    // side. The dim intermediate must now carry hotRows*salt + coldRows.
    val dim = (1L to 100L).map(k => (k, s"d$k")).toDF("k", "name")
    val hot = Seq(7L, 13L).toDF("k")
    val replicated = replicateHotDim(dim, "k", hot, salt = 8)
    assert(replicated.count() === 2 * 8 + 98)
    // every hot key carries all 8 salts; cold keys exactly salt 0
    val salts = replicated.groupBy("k").agg(countDistinct(col("__salt")).as("n"))
      .as[(Long, Long)].collect().toMap
    assert(salts(7L) === 8 && salts(13L) === 8 && salts(1L) === 1)
  }

  test("hotKeys detects dominant keys from a sampled count") {
    // key 1: 5000 rows, key 2: 5 rows. With sampleFraction=1.0 the count
    // is exact; threshold 1000 flags only key 1.
    val fact = ((1 to 5000).map(_ => 1L) ++ (1 to 5).map(_ => 2L)).toDF("k")
    val found = hotKeys(fact, "k", minRows = 1000L, sampleFraction = 1.0)
      .as[Long].collect().toSet
    assert(found === Set(1L))
  }

  test("approx_count_distinct stays within 5x its relative standard deviation") {
    // the rows-only q_approx_distinct's documented accuracy claim: rsd is
    // a standard deviation, not a bound (the default-rsd version measured
    // 6.9% on this very fixture) — assert a 5-sigma ceiling at rsd=0.01,
    // matching the query's setting, on a deterministic fixture
    val df = (1L to 20000L).map(i => (i % 7, i % 9000)).toDF("k", "u")
    val got = df.groupBy("k")
      .agg(countDistinct(col("u")).as("exact"),
        approx_count_distinct(col("u"), 0.01).as("approx"))
      .as[(Long, Long, Long)].collect()
    got.foreach { case (k, exact, approx) =>
      assert(math.abs(approx - exact).toDouble / exact <= 0.05,
        s"k=$k exact=$exact approx=$approx")
    }
  }

  test("compact rejects a partitioned-table root and an empty directory") {
    // ADVICE r4: called on a hive-partitioned root, compact would have
    // computed totalBytes=0 and flattened the layout — must fail fast.
    val dir = Files.createTempDirectory("graft_cg").toString
    val df = (1 to 100).map(i => (i.toLong, 2000 + i % 2)).toDF("id", "year")
    writePartitioned(df, dir, Seq("year"))
    intercept[IllegalArgumentException] { compact(spark, dir) }
    // layout untouched by the rejected call
    assert(new java.io.File(dir).listFiles().count(_.getName.startsWith("year=")) === 2)
    val empty = Files.createTempDirectory("graft_ce").toString
    intercept[IllegalArgumentException] { compact(spark, empty) }
  }

  test("writePartitioned lays out hive dirs with bounded files per partition") {
    val dir = Files.createTempDirectory("graft_wp").toString
    val df = (1 to 500).map(i => (i.toLong, 2000 + i % 3)).toDF("id", "year")
    writePartitioned(df, dir, Seq("year"))
    val root = new java.io.File(dir)
    val partDirs = root.listFiles().filter(_.getName.startsWith("year="))
    assert(partDirs.map(_.getName).toSet === Set("year=2000", "year=2001", "year=2002"))
    partDirs.foreach { d =>
      val parts = d.listFiles().count(_.getName.endsWith(".parquet"))
      assert(parts <= WRITE_SALT_BUCKETS, s"${d.getName} has $parts files")
    }
    val back = readTable(spark, dir).as[(Long, Int)].collect().toSet
    assert(back === df.as[(Long, Int)].collect().toSet)
  }

  test("writePartitioned with no partition columns round-trips (S3)") {
    val dir = Files.createTempDirectory("graft_wu").toString
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    writePartitioned(df, dir, Seq.empty)
    assert(readTable(spark, dir).as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (2L, "b")))
  }

  test("scd2FromChanges collapses runs and versions them with closed intervals") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val log = Seq(
      (1L, "a", t("2026-01-01 10:00:00"), 1L),
      (1L, "a", t("2026-01-01 11:00:00"), 2L), // consecutive dup -> collapsed
      (1L, "b", t("2026-01-01 12:00:00"), 3L),
      (1L, "a", t("2026-01-01 13:00:00"), 4L), // value RETURNS -> new run
      (2L, "x", t("2026-01-01 09:00:00"), 5L))
      .toDF("k", "v", "ts", "id")
    val got = scd2FromChanges(log, "k", "v", "ts", "id")
      .as[(Long, String, java.sql.Timestamp, Option[java.sql.Timestamp], Int)]
      .collect().toSet
    assert(got === Set(
      (1L, "a", t("2026-01-01 10:00:00"), Some(t("2026-01-01 12:00:00")), 0),
      (1L, "b", t("2026-01-01 12:00:00"), Some(t("2026-01-01 13:00:00")), 0),
      (1L, "a", t("2026-01-01 13:00:00"), None, 1),
      (2L, "x", t("2026-01-01 09:00:00"), None, 1)))
    // same-instant changes: the tiebreak column orders them deterministically
    val tie = Seq((1L, "a", t("2026-01-01 10:00:00"), 2L),
      (1L, "b", t("2026-01-01 10:00:00"), 1L)).toDF("k", "v", "ts", "id")
    val runs = scd2FromChanges(tie, "k", "v", "ts", "id")
      .as[(Long, String, java.sql.Timestamp, Option[java.sql.Timestamp], Int)]
      .collect().toSet
    assert(runs.map(r => (r._2, r._5)) === Set(("b", 0), ("a", 1))) // id order: b first
  }

  test("scd2Lookup stamps points with the containing period's value") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val log = Seq(
      (1L, "bronze", t("2026-01-01 10:00:00"), 1L),
      (1L, "silver", t("2026-01-01 12:00:00"), 2L),
      // same-instant double change: "gold" run is EMPTY [13:00,13:00),
      // "plat" holds from 13:00 — a point AT 13:00 must see plat, not
      // max("gold","plat")
      (1L, "gold", t("2026-01-01 13:00:00"), 3L),
      (1L, "plat", t("2026-01-01 13:00:00"), 4L))
      .toDF("k", "v", "ts", "id")
    val history = scd2FromChanges(log, "k", "v", "ts", "id")
    val points = Seq(
      (100L, 1L, t("2026-01-01 09:00:00")), // before any period -> null
      (101L, 1L, t("2026-01-01 10:00:00")), // exactly at first from -> bronze
      (102L, 1L, t("2026-01-01 11:59:59")), // inside first period
      (103L, 1L, t("2026-01-01 13:00:00")), // at the double-change instant
      (104L, 2L, t("2026-01-01 12:00:00"))) // key with no history -> null
      .toDF("pid", "k", "ts")
    val got = scd2Lookup(points, history, "k", "ts", "v", "v_at")
      .select("pid", "v_at").as[(Long, Option[String])].collect().toMap
    assert(got === Map(100L -> None, 101L -> Some("bronze"),
      102L -> Some("bronze"), 103L -> Some("plat"), 104L -> None))
  }

  test("mergeCountSum merges a delta into standing aggregates, keys on either side") {
    // key 1 in both, key 2 state-only, key 3 batch-only — the merge must
    // equal the from-scratch aggregate of the union (mergeability)
    val history = Seq((1L, 2.0), (1L, 3.0), (2L, 5.0)).toDF("k", "v")
    val state = history.groupBy(col("k"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sum_value"))
    val batch = Seq((1L, 7.0), (3L, 11.0)).toDF("k", "v")
    val merged = mergeCountSum(state, batch, "k", "v")
      .as[(Long, Long, Double)].collect().toSet
    assert(merged === Set((1L, 3L, 12.0), (2L, 1L, 5.0), (3L, 1L, 11.0)))
    val scratch = history.union(batch).groupBy(col("k"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sum_value"))
      .as[(Long, Long, Double)].collect().toSet
    assert(merged === scratch)
    // merging an EMPTY delta is the identity
    val idem = mergeCountSum(state, batch.limit(0), "k", "v")
      .as[(Long, Long, Double)].collect().toSet
    assert(idem === Set((1L, 2L, 5.0), (2L, 1L, 5.0)))
  }

  test("compactPartitioned compacts every partition dir; layout and pruning intact") {
    val dir = Files.createTempDirectory("graft_cpp").toString
    val df = (1 to 300).map(i => (i.toLong, 2000 + i % 3)).toDF("id", "year")
    // deliberate bloat: 6 writer tasks fan into every partition directory
    df.repartition(6).write.mode("overwrite").partitionBy("year").parquet(dir)
    def filesIn(part: String) = new java.io.File(s"$dir/$part").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(filesIn("year=2000") > 1, "fixture should start bloated")
    val res = compactPartitioned(spark, dir)
    assert(res === Map("year=2000" -> 1, "year=2001" -> 1, "year=2002" -> 1))
    Seq("year=2000", "year=2001", "year=2002").foreach(p => assert(filesIn(p) === 1, p))
    // content and partition layout intact
    assert(readTable(spark, dir).as[(Long, Int)].collect().toSet ===
      df.as[(Long, Int)].collect().toSet)
    // directory pruning still plans on the compacted layout
    val plan = readTable(spark, dir).filter(col("year") === 2001)
      .queryExecution.executedPlan.toString
    // the equality literal carries the pruning (the isnotnull companion
    // was constraint propagation's, off since r19)
    assert(plan.contains("PartitionFilters: [") &&
      plan.replaceAll("\\s+", " ")
        .matches("(?s).*PartitionFilters: \\[[^\\]]*= 2001\\)\\].*"),
      plan.take(3000))
    // ADVICE r6: crash residue must be INVISIBLE to partition discovery.
    // Simulate a crash that left a backup beside its leaf (the staging
    // names are dot-prefixed exactly so this is skipped): a reader of the
    // root must see neither duplicated rows nor a bogus partition value.
    val leaf = new java.io.File(s"$dir/year=2000")
    val residue = new java.io.File(s"$dir/.year=2000.compact-old")
    java.nio.file.Files.createDirectory(residue.toPath)
    leaf.listFiles().filter(_.getName.endsWith(".parquet")).foreach(f =>
      java.nio.file.Files.copy(f.toPath, residue.toPath.resolve(f.getName)))
    assert(readTable(spark, dir).count() === 300L,
      "dot-prefixed compact residue leaked into the read")
    // and a re-run of compactPartitioned skips the residue rather than
    // compacting it as a partition
    assert(compactPartitioned(spark, dir).keySet ===
      Set("year=2000", "year=2001", "year=2002"))
    // a FLAT directory is the other operator's job — fail fast, untouched
    val flat = Files.createTempDirectory("graft_cpf").toString
    df.drop("year").repartition(2).write.mode("overwrite").parquet(flat)
    intercept[IllegalArgumentException] { compactPartitioned(spark, flat) }
    assert(readTable(spark, flat).count() === 300L)
  }

  test("compactPartitioned parallel: same result as sequential, failures attributed") {
    val dir = Files.createTempDirectory("graft_cppp").toString
    val df = (1 to 400).map(i => (i.toLong, 2000 + i % 4)).toDF("id", "year")
    df.repartition(6).write.mode("overwrite").partitionBy("year").parquet(dir)
    // pool path (4 concurrent per-partition jobs) must match the
    // sequential operator exactly — layout, counts, and content
    val res = compactPartitioned(spark, dir, parallelism = 4)
    assert(res === Map("year=2000" -> 1, "year=2001" -> 1,
      "year=2002" -> 1, "year=2003" -> 1))
    assert(readTable(spark, dir).as[(Long, Int)].collect().toSet ===
      df.as[(Long, Int)].collect().toSet)
    // per-partition failure attribution survives the pool: corrupt ONE
    // leaf (a directory named like a parquet file defeats the reader),
    // and the aggregate error names that partition while the healthy
    // ones still complete their swap
    val bad = new java.io.File(s"$dir/year=2003/zzz.parquet")
    new java.io.File(s"$dir/year=2003").listFiles()
      .foreach(f => java.nio.file.Files.delete(f.toPath))
    java.nio.file.Files.createDirectory(bad.toPath) // empty dir, unreadable as parquet
    val e = intercept[java.io.IOException] {
      compactPartitioned(spark, dir, parallelism = 4)
    }
    assert(e.getMessage.contains("1/4 partitions failed"), e.getMessage)
    assert(e.getMessage.contains("year=2003"), e.getMessage)
    // the three healthy partitions were still compacted (all futures drain)
    assert(readTable(spark, s"$dir/year=2000").count() === 100L)
  }

  test("upsert: updates win per key, inserts land, untouched state passes through") {
    val state = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val updates = Seq((2L, "B"), (9L, "i")).toDF("k", "v")
    val got = upsert(state, updates, "k").as[(Long, String)].collect().toMap
    assert(got === Map(1L -> "a", 2L -> "B", 3L -> "c", 9L -> "i"))
    // empty updates = identity; empty state = plain insert
    assert(upsert(state, updates.limit(0), "k").count() === 3L)
    assert(upsert(state.limit(0), updates, "k").count() === 2L)
    // snapshotDiff audits the merge: exactly the update keys differ
    val diff = snapshotDiff(state, upsert(state, updates, "k"), "k", Seq("v"))
      .as[(Long, String)].collect().toMap
    assert(diff === Map(2L -> "changed", 9L -> "added"))
  }

  test("snapshotDiff classifies added/removed/changed with null-safe compares") {
    val before = Seq(
      (1L, Option("a"), Option(10)),  // unchanged
      (2L, Option("b"), Option(20)),  // value change
      (3L, None, Option(30)),         // null -> value = changed
      (4L, Option("d"), None),        // null == null = unchanged
      (5L, Option("e"), Option(50)))  // removed
      .toDF("k", "s", "v")
    val after = Seq(
      (1L, Option("a"), Option(10)),
      (2L, Option("B"), Option(20)),
      (3L, Option("c"), Option(30)),
      (4L, Option("d"), Option.empty[Int]),
      (6L, Option("f"), Option(60)))  // added
      .toDF("k", "s", "v")
    val got = snapshotDiff(before, after, "k", Seq("s", "v"))
      .as[(Long, String)].collect().toMap
    assert(got === Map(2L -> "changed", 3L -> "changed",
      5L -> "removed", 6L -> "added"))
    // identical snapshots -> empty diff
    assert(snapshotDiff(before, before, "k", Seq("s", "v")).count() === 0L)
  }

  test("compact merges a many-file directory to the byte target, content intact") {
    val dir = Files.createTempDirectory("graft_cp").toString
    val df = spark.range(0, 1000).toDF("id")
    df.repartition(8).write.mode("overwrite").parquet(dir)
    def parquetFiles = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(parquetFiles === 8)
    val n = compact(spark, dir) // default 128 MB target -> one file
    assert(n === 1 && parquetFiles === 1)
    assert(readTable(spark, dir).as[Long].collect().toSet ===
      (0L until 1000L).toSet)
    // and splitting: a tiny target yields multiple files
    df.repartition(8).write.mode("overwrite").parquet(dir)
    val bytes = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    val n2 = compact(spark, dir, targetBytes = bytes / 3 + 1)
    assert(n2 >= 2 && parquetFiles === n2)
    assert(readTable(spark, dir).count() === 1000L)
  }

  test("writeClustered: files cover near-disjoint key ranges, content preserved") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cluster").toString
    val df = (0L until 4000L).map(i => ((i * 2654435769L) % 4096, i)).toDF("k", "id")
    graft.operators.Relational.writeClustered(df, dir, "k",
      nRanges = 4, maxRecordsPerFile = 500L)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.toString).sorted
    assert(files.length >= 8, s"expected many files, got ${files.length}")
    // each file spans a narrow interval; across files the intervals may
    // touch only at their endpoints (a boundary key can straddle files)
    val ranges = files.map { f =>
      val r = spark.read.parquet(f).agg(min(col("k")), max(col("k"))).head
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo2, _)) =>
        assert(lo2 >= hi, s"file ranges overlap beyond a boundary: $hi vs $lo2")
      case _ =>
    }
    // a range predicate's matching keys live in few files
    val hit = ranges.count { case (lo, hi) => lo <= 300L && 200L <= hi }
    assert(hit <= 2, s"a 100-wide window should hit <=2 of ${ranges.length} files, hit $hit")
    assert(spark.read.parquet(dir).count() === 4000L)
  }

  test("equiDepthHistogram equals the one-window rank form, shard-count independent") {
    // values with heavy duplication and a skew spike so shard boundaries
    // and tie-breaking both matter
    val rows = ((0L until 300L).map(i => (i, (i % 7).toDouble)) ++
      (300L until 400L).map(i => (i, 3.0)) ++ // value spike at 3.0
      (400L until 500L).map(i => (i, i.toDouble))).toDF("id", "v")
    def hist(shards: Int) = graft.operators.Relational
      .equiDepthHistogram(rows, col("v"), Seq(col("id")), nBuckets = 8, nShards = shards)
      .as[(Long, Double, Double, Long)].collect().toSeq
    // brute-force one-window reference
    val expect = rows.withColumn("rk",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("v"), col("id"))) - 1)
      .withColumn("bucket", expr("(rk * 8) div 500"))
      .groupBy("bucket")
      .agg(min(col("v")).as("lo"), max(col("v")).as("hi"), count(lit(1)).as("n_rows"))
      .orderBy("bucket")
      .as[(Long, Double, Double, Long)].collect().toSeq
    assert(hist(1024) === expect)
    assert(hist(3) === expect) // fewer shards than buckets: still exact
    assert(hist(1) === expect) // degenerate single shard
    assert(expect.map(_._4).sum === 500L)
  }

  test("imputeGroupMean fills nulls with the observed mean; all-null groups stay null") {
    val df = Seq(
      ("a", Some(1.0)), ("a", Some(3.0)), ("a", None), // -> 2.0
      ("b", Some(10.0)), ("b", None),                  // -> 10.0
      ("c", None), ("c", None))                        // all null -> stays null
      .zipWithIndex.map { case ((k, v), i) => (i.toLong, k, v) }
      .toDF("id", "k", "v")
    val got = graft.operators.Relational.imputeGroupMean(df, "k", "v")
      .select("id", "v").as[(Long, Option[Double])].collect().toMap
    assert(got === Map(0L -> Some(1.0), 1L -> Some(3.0), 2L -> Some(2.0),
      3L -> Some(10.0), 4L -> Some(10.0), 5L -> None, 6L -> None))
    // a null GROUP KEY survives unimputed (left join, not inner)
    val withNullKey = Seq((0L, Option("a"), Option(1.0)), (1L, Option("a"), None),
      (2L, Option.empty[String], Option(7.0)), (3L, Option.empty[String], None))
      .toDF("id", "k", "v")
    val got2 = graft.operators.Relational.imputeGroupMean(withNullKey, "k", "v")
      .select("id", "v").as[(Long, Option[Double])].collect().toMap
    assert(got2 === Map(0L -> Some(1.0), 1L -> Some(1.0),
      2L -> Some(7.0), 3L -> None))
  }

  test("writeWithBloom: footer carries a bloom filter for the flagged column only") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bloom").toString
    val df = (0L until 5000L).map(i => (i, i * 37 % 4096)).toDF("id", "k")
      .repartition(1) // one file, so the inspected footer covers every key
    graft.operators.Relational.writeWithBloom(df, dir, Seq("k"), ndv = 4096L)
    val file = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val conf = spark.sessionState.newHadoopConf()
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.toString), conf))
    try {
      val cols = reader.getFooter.getBlocks.get(0).getColumns
      import scala.jdk.CollectionConverters._
      val byName = cols.asScala.map(c => c.getPath.toDotString -> c).toMap
      assert(byName("k").getBloomFilterOffset >= 0, "k must carry a bloom filter")
      assert(byName("id").getBloomFilterOffset < 0, "id must not")
      // and the filter actually answers membership
      val bloom = reader.getBloomFilterDataReader(reader.getFooter.getBlocks.get(0))
        .readBloomFilter(byName("k"))
      val hit = bloom.findHash(bloom.hash(37L))
      assert(hit, "written key must hash-hit the bloom filter")
    } finally reader.close()
    assert(spark.read.parquet(dir).filter(col("k") === 37L).count() === 2L)
  }

  test("dqReport: null predicates violate, null keys never count as duplicates") {
    val df = Seq[(Option[Long], Option[Double])](
      (Some(1L), Some(10.0)), // clean
      (Some(1L), Some(-5.0)), // duplicate key + negative value
      (Some(2L), None),       // null value -> violates v_positive
      (None, Some(3.0)),      // null key -> violates k_notnull, NOT k_unique
      (None, Some(4.0)))      // second null key: still no "duplicate null"
      .toDF("k", "v")
    val rep = graft.operators.Relational.dqReport(df,
        rowRules = Seq(
          "v_positive" -> (col("v") > 0),
          "k_notnull" -> col("k").isNotNull),
        uniqueKeys = Seq("k_unique" -> Seq("k")))
      .as[(String, Long)].collect().toMap
    assert(rep === Map(
      "v_positive" -> 2L, "k_notnull" -> 2L, "k_unique" -> 1L))
    // one aggregate pass: the plan contains exactly one logical Aggregate
    val plan = graft.operators.Relational.dqReport(df,
      Seq("a" -> (col("v") > 0)), Seq("b" -> Seq("k"))).queryExecution.optimizedPlan
    val nAgg = plan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }.size
    assert(nAgg === 1, s"expected one Aggregate, got:\n$plan")
  }

  test("melt emits |values| rows per input row and round-trips through pivot") {
    val df = Seq((1L, 2.0, 30.0), (2L, 4.0, 50.0)).toDF("id", "a", "b")
    val long = graft.operators.Relational.melt(
      df, Seq("id"), Seq("a", "b"), "metric", "value")
    assert(long.count() === 4)
    val got = long.as[(Long, String, Double)].collect().toSet
    assert(got === Set((1L, "a", 2.0), (1L, "b", 30.0),
      (2L, "a", 4.0), (2L, "b", 50.0)))
    // inverse reshape recovers the wide table
    val wide = long.groupBy("id").pivot("metric", Seq("a", "b"))
      .agg(first(col("value"))).as[(Long, Double, Double)].collect().toSet
    assert(wide === Set((1L, 2.0, 30.0), (2L, 4.0, 50.0)))
  }

  test("zorder2 interleave matches a bit-by-bit reference; sort order is the z-curve") {
    val rnd = new scala.util.Random(7)
    def ref(a: Long, b: Long): Long = {
      var z = 0L
      for (i <- 0 until 32) {
        z |= ((a >>> i) & 1L) << (2 * i)
        z |= ((b >>> i) & 1L) << (2 * i + 1)
      }
      z
    }
    for (_ <- 1 to 200) {
      val a = rnd.nextLong() & 0xFFFFFFFFL
      val b = rnd.nextLong() & 0xFFFFFFFFL
      assert(graft.functions.ZOrder2.interleave(a, b) === ref(a, b))
    }
    // kernel vs interpreted eval agree through the SQL surface
    val df = Seq((3L, 5L), (0L, 0L), (0xFFFFFFFFL, 1L)).toDF("a", "b")
      .select(call_function("graft_zorder2", col("a"), col("b")).as("z"))
    assert(df.as[Long].collect().toSeq ===
      Seq(ref(3, 5), 0L, ref(0xFFFFFFFFL, 1L)))
  }

  test("writeZOrdered: content round-trips and files cover boxes bounded in BOTH dims") {
    val n = 64
    val grid = spark.range(n.toLong * n)
      .select((col("id") % n).as("x"), expr(s"id div $n").as("y"))
    val path = s"/tmp/graft-test-zorder-${System.nanoTime()}"
    graft.operators.Relational.writeZOrdered(grid, path, col("x"), col("y"), 16)
    val back = spark.read.parquet(path)
    assert(back.count() === n.toLong * n)
    assert(back.select("x", "y").as[(Long, Long)].collect().toSet ===
      grid.as[(Long, Long)].collect().toSet)
    // per-file bounding boxes: a 1-D sort by x leaves dy = full range in
    // EVERY file; the z-layout bounds most files in both dimensions
    val boxes = back.select(input_file_name().as("f"), col("x"), col("y"))
      .groupBy("f").agg(
        (max("x") - min("x")).as("dx"), (max("y") - min("y")).as("dy"))
      .as[(String, Long, Long)].collect()
    val tight = boxes.count { case (_, dx, dy) => dx <= n / 2 && dy <= n / 2 }
    assert(tight >= boxes.length * 3 / 4,
      s"expected >=3/4 of files box-bounded, got $tight/${boxes.length}: " +
        boxes.map { case (_, dx, dy) => s"($dx,$dy)" }.mkString(" "))
    new java.io.File(path).listFiles().foreach(_.delete()); new java.io.File(path).delete()
  }

  test("stringAgg joins group values in ascending order regardless of layout") {
    val df = Seq(("g1", "b"), ("g1", "a"), ("g1", "c"), ("g2", "z"))
      .toDF("k", "v").repartition(4) // scramble physical order
    val got = graft.operators.Relational.stringAgg(df, Seq("k"), "v", ",")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got === Set(("g1", "a,b,c", 3L), ("g2", "z", 1L)))
  }

  test("deleteKeys: untouched partitions keep their files, emptied ones vanish") {
    val dir = Files.createTempDirectory("graft_dk").toString
    Seq((1L, "a", 1), (2L, "b", 1), (3L, "c", 2), (4L, "d", 2), (5L, "e", 3), (6L, "f", 3))
      .toDF("k", "v", "p")
      .write.mode("overwrite").partitionBy("p").parquet(dir)
    def files(p: Int): Set[String] =
      Option(new java.io.File(s"$dir/p=$p").listFiles()).map(
        _.map(_.getName).filter(_.endsWith(".parquet")).toSet).getOrElse(Set.empty)
    val p3Before = files(3)
    assert(p3Before.nonEmpty)
    // p=1 partial delete, p=2 total delete, p=3 untouched
    val (rewritten, dropped) = graft.operators.Relational.deleteKeys(
      spark, dir, "p", "k", Seq(1L, 3L, 4L).toDF("k"))
    assert(rewritten === Seq(1) && dropped === Seq(2))
    assert(files(3) === p3Before, "untouched partition was rewritten")
    assert(!new java.io.File(s"$dir/p=2").exists(), "emptied partition survived")
    val left = spark.read.parquet(dir).select("k").as[Long].collect().toSet
    assert(left === Set(2L, 5L, 6L))
    // idempotent / no-op on a miss list: nothing touched
    assert(graft.operators.Relational.deleteKeys(
      spark, dir, "p", "k", Seq(99L).toDF("k")) === ((Nil, Nil)))
  }

  test("publishTable: failed audit leaves the live table byte-untouched") {
    val dir = Files.createTempDirectory("graft_pub").toString + "/tbl"
    val good = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    // first publish succeeds and reports zero violations
    val report = graft.operators.Relational.publishTable(
      spark, good, dir,
      rowRules = Seq("k_not_null" -> col("k").isNotNull),
      uniqueKeys = Seq(("k_unique", Seq("k"))))
      .as[(String, Long)].collect().toMap
    assert(report === Map("k_not_null" -> 0L, "k_unique" -> 0L))
    assert(spark.read.parquet(dir).count() === 2L)
    // a duplicate-key batch fails the audit: live table untouched,
    // staging swept
    val dup = Seq((1L, "x"), (1L, "y")).toDF("k", "v")
    val e = intercept[IllegalStateException] {
      graft.operators.Relational.publishTable(spark, dup, dir,
        uniqueKeys = Seq(("k_unique", Seq("k"))))
    }
    assert(e.getMessage.contains("k_unique=1"))
    val live = spark.read.parquet(dir)
      .as[(Long, String)].collect().toSet
    assert(live === Set((1L, "a"), (2L, "b")), "failed audit mutated the table")
    val parent = new java.io.File(dir).getParentFile
    assert(!parent.listFiles().exists(_.getName.contains("publish-tmp")),
      "staging dir not swept after failed audit")
    // a passing second publish replaces the table
    graft.operators.Relational.publishTable(spark,
      Seq((3L, "c")).toDF("k", "v"), dir,
      uniqueKeys = Seq(("k_unique", Seq("k"))))
    assert(spark.read.parquet(dir).as[(Long, String)].collect().toSet ===
      Set((3L, "c")))
    // partitioned publish: hive layout on disk, atomic whole-root swap
    graft.operators.Relational.publishTable(spark,
      Seq((4L, "d", "p1"), (5L, "e", "p2")).toDF("k", "v", "p"), dir,
      uniqueKeys = Seq(("k_unique", Seq("k"))),
      partitionCols = Seq("p"))
    assert(new java.io.File(s"$dir/p=p1").isDirectory, "hive layout missing")
    assert(spark.read.parquet(dir).select("k", "v", "p")
      .as[(Long, String, String)].collect().toSet ===
      Set((4L, "d", "p1"), (5L, "e", "p2")))
    // an audit-less call fails BEFORE any bytes move
    intercept[IllegalArgumentException] {
      graft.operators.Relational.publishTable(spark,
        Seq((9L, "z")).toDF("k", "v"), dir)
    }
    // vacuum reclaims crash-orphaned staging dirs, never the live table
    val parent2 = new java.io.File(dir).getParentFile
    val name = new java.io.File(dir).getName
    new java.io.File(parent2, s".$name.publish-old").mkdir()
    new java.io.File(parent2, s".$name.compact-tmp").mkdir()
    val removed = graft.operators.Relational.vacuumStaging(spark, dir)
    assert(removed.size === 2, s"expected 2 sweeps, got $removed")
    assert(!new java.io.File(parent2, s".$name.publish-old").exists())
    assert(spark.read.parquet(dir).count() === 2L, "vacuum touched the table")
    assert(graft.operators.Relational.vacuumStaging(spark, dir).isEmpty)
  }

  test("deleteKeys removes emptied partitions whose values Hive-escape") {
    // 'a b:c' is stored as 'p=a%20b%3Ac' — raw s"p=$v" interpolation
    // would miss the dir and the "forgotten" rows would survive re-read
    val dir = Files.createTempDirectory("graft_dke").toString
    Seq((1L, "a b:c"), (2L, "a b:c"), (3L, "plain"))
      .toDF("k", "p")
      .write.mode("overwrite").partitionBy("p").parquet(dir)
    val (rewritten, dropped) = graft.operators.Relational.deleteKeys(
      spark, dir, "p", "k", Seq(1L, 2L).toDF("k"))
    assert(rewritten === Nil && dropped === Seq("a b:c"))
    val left = spark.read.parquet(dir).select("k").as[Long].collect().toSet
    assert(left === Set(3L), "escaped emptied partition survived the delete")
  }

  test("fkReport: orphan counts, MATCH SIMPLE null exemption, composite keys") {
    import spark.implicits._
    val parent = Seq((1L, "a"), (2L, "b")).toDF("pk", "pv")
    val child = Seq(
      (1L, "a", 10L),                  // matched
      (2L, "b", 11L),                  // matched
      (3L, "c", 12L),                  // orphan (no parent 3/c)
      (1L, "b", 13L))                  // composite orphan: (1,b) not a parent PAIR
      .toDF("fk", "fv", "payload")
    val got = graft.operators.Relational.fkReport(child, Seq(
        ("single", Seq("fk"), parent, Seq("pk")),
        ("composite", Seq("fk", "fv"), parent, Seq("pk", "pv"))))
      .as[(String, Long)].collect().toMap
    assert(got("single") === 1L)     // only fk=3 misses on the single key
    assert(got("composite") === 2L)  // (3,c) and (1,b)
    // a null in ANY key column exempts the row (SQL MATCH SIMPLE)
    val nulled = Seq((Some(3L), Some("c")), (None, Some("z")),
        (Some(9L), None)).toDF("fk", "fv")
    val ex = graft.operators.Relational.fkReport(nulled, Seq(
        ("comp_null", Seq("fk", "fv"), parent, Seq("pk", "pv"))))
      .as[(String, Long)].collect().toMap
    assert(ex("comp_null") === 1L, "only the fully-set (3,c) row is an orphan")
    // duplicate rule names and arity mismatches are rejected
    intercept[IllegalArgumentException](graft.operators.Relational.fkReport(
      child, Seq(("x", Seq("fk"), parent, Seq("pk")),
        ("x", Seq("fv"), parent, Seq("pv")))))
    intercept[IllegalArgumentException](graft.operators.Relational.fkReport(
      child, Seq(("y", Seq("fk", "fv"), parent, Seq("pk")))))
  }

  test("chi2Association: hand-table arithmetic; independent table is all-zero terms") {
    import spark.implicits._
    // perfectly independent 2x2: every cell's observed equals expected
    val indep = (Seq.fill(2)(("x", "p")) ++ Seq.fill(2)(("x", "q")) ++
      Seq(("y", "p"), ("y", "q"))).toDF("a0", "b0")
    val z = graft.operators.Relational.chi2Association(indep, "a0", "b0")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(3), r.getLong(4)))).toMap
    assert(z(("x", "p")) === ((2000000L, 0L)))
    assert(z(("y", "q")) === ((1000000L, 0L)))
    assert(z.values.forall(_._2 === 0L), s"independent => all terms 0: $z")
    // perfectly dependent: only (x,p) and (y,q); each term = 1.0
    val dep = (Seq.fill(2)(("x", "p")) ++ Seq.fill(2)(("y", "q")))
      .toDF("a0", "b0")
    val d = graft.operators.Relational.chi2Association(dep, "a0", "b0")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(d(("x", "p")) === ((2L, 1000000L, 1000000L)))
    assert(d(("y", "q")) === ((2L, 1000000L, 1000000L)))
    graft.engine.Caches.releaseAll()
  }

  test("expectations: first failing rule wins, NULL passes, split partitions exactly") {
    import spark.implicits._
    val df = Seq(
      (1L, Some(10L)),              // clean
      (2L, Some(-5L)),              // fails r2 only
      (-3L, Some(-5L)),             // fails BOTH -> first rule's name
      (4L, None)                    // NULL predicate -> passes (CHECK)
    ).toDF("k", "v")
    val rules = Seq(("k_pos", "k > 0"), ("v_pos", "v > 0"))
    val tagged = graft.operators.Relational.expectations(df, rules)
      .collect().map(r => r.getLong(0) -> Option(r.getString(2))).toMap
    assert(tagged(1L) === None && tagged(4L) === None)
    assert(tagged(2L) === Some("v_pos"))
    assert(tagged(-3L) === Some("k_pos"), "declaration order decides")
    val (clean, quarantined) =
      graft.operators.Relational.quarantineSplit(df, rules)
    assert(clean.columns.toSeq === Seq("k", "v"))
    assert(clean.select("k").as[Long].collect().toSet === Set(1L, 4L))
    assert(quarantined.select("k").as[Long].collect().toSet === Set(2L, -3L))
    assert(clean.count() + quarantined.count() === df.count())
    // duplicate names and a reserved output column are rejected
    intercept[IllegalArgumentException](graft.operators.Relational
      .expectations(df, Seq(("a", "k > 0"), ("a", "v > 0"))))
    intercept[IllegalArgumentException](graft.operators.Relational
      .expectations(df.withColumn("quarantine_reason", lit("x")),
        Seq(("a", "k > 0"))))
  }

  test("gini: uniform zero, one-holder extreme (n-1)/n, band invariance") {
    val even = Seq(("a", 10.0), ("b", 10.0), ("c", 10.0), ("d", 10.0))
      .toDF("k", "v")
    val g0 = graft.operators.Relational.gini(even, "k", "v").collect().head
    assert(g0.getLong(2) === 0L && g0.getDouble(3) === 0.0)
    // two empty-handed keys, one holding everything: G = (n-1)/n = 2/3
    val skew = Seq(("a", 0.0), ("b", 0.0), ("c", 30.0)).toDF("k", "v")
    val g1 = graft.operators.Relational.gini(skew, "k", "v").collect().head
    assert(g1.getLong(2) === 666L)
    assert(math.abs(g1.getDouble(3) - 2.0 / 3.0) < 1e-12)
    val g1b = graft.operators.Relational.gini(skew, "k", "v", bands = 1)
      .collect().head
    assert(g1b.getLong(2) === 666L)
    // n·T·1000 past 2^63 (the sf0.1 ANSI-overflow regression): the
    // milli arithmetic must run widened, not in raw longs
    val big = Seq(("a", 0.0), ("b", 0.0), ("c", 4.0e13)).toDF("k", "v")
    val g2 = graft.operators.Relational.gini(big, "k", "v").collect().head
    assert(g2.getLong(2) === 666L)
    graft.engine.Caches.releaseAll()
  }

  test("spearman: monotone-transform invariance, reversal, tie averaging") {
    def run(rows: Seq[(Double, Double)]): Double =
      graft.operators.Relational.spearman(rows.toDF("x", "y"), "x", "y")
        .collect().head.getDouble(1)
    // y = x^3 is a monotone transform: Spearman exactly 1 where
    // Pearson would not be
    val xs = Seq(1.0, 2.0, 5.0, 9.0, 17.0)
    assert(math.abs(run(xs.map(x => (x, x * x * x))) - 1.0) < 1e-12)
    assert(math.abs(run(xs.map(x => (x, -x))) + 1.0) < 1e-12)
    // ties average: x=[1,1,2] ranks (1.5,1.5,3) vs y=[3,4,5] ->
    // r = sqrt(3)/2
    val tied = run(Seq((1.0, 3.0), (1.0, 4.0), (2.0, 5.0)))
    assert(math.abs(tied - math.sqrt(3.0) / 2.0) < 1e-12)
    graft.engine.Caches.releaseAll()
  }

  test("concentration: hand shares, multi-row keys, ties, band-count invariance") {
    // k1 split across two rows (aggregation), k2/k3 tie at 3000 cents
    val df = Seq(
      ("k1", 25.0), ("k1", 25.0),   // 5000 cents
      ("k2", 30.0),                  // 3000
      ("k3", 30.0),                  // 3000  (tie -> key order k2 < k3)
      ("k4", 5.0))                   // 500;  total = 11500
      .toDF("k", "v")
    def run(bands: Int) = graft.operators.Relational
      .concentration(df, "k", "v", Seq(400, 500, 900, 1000), bands)
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val got = run(32)
    // cum: k1 5000 (434‰), k2 8000 (695‰), k3 11000 (956‰), k4 11500
    assert(got(400) === ((1L, 5000L, 434L)))
    assert(got(500) === ((2L, 8000L, 695L)))
    assert(got(900) === ((3L, 11000L, 956L)))
    assert(got(1000) === ((4L, 11500L, 1000L)))
    // banding is an implementation detail: 1 and 2 bands agree exactly
    assert(run(1) === got && run(2) === got)
    intercept[IllegalArgumentException](
      graft.operators.Relational.concentration(df, "k", "v", Seq(0)))
    graft.engine.Caches.releaseAll()
  }

  test("abcClassify: crossing-key convention, one-key table, band invariance") {
    val df = Seq(("k1", 0.70), ("k2", 0.20), ("k3", 0.06), ("k4", 0.04))
      .toDF("k", "v")
    def run(bands: Int) = graft.operators.Relational
      .abcClassify(df, "k", "v", bands = bands)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    val got = run(32)
    // k2 CROSSES the 80% line (cum 90 > 80, prev 70 < 80): it
    // completes class A; k3 lands in B, k4 past 95% in C
    assert(got === Map(
      "k1" -> ((70L, 1L, "A")), "k2" -> ((20L, 2L, "A")),
      "k3" -> ((6L, 3L, "B")), "k4" -> ((4L, 4L, "C"))))
    assert(run(1) === got)
    // a lone key holds everything and is trivially A
    val one = graft.operators.Relational
      .abcClassify(Seq(("x", 5.0)).toDF("k", "v"), "k", "v")
      .collect().head
    assert(one.getString(3) === "A")
    intercept[IllegalArgumentException](graft.operators.Relational
      .abcClassify(df, "k", "v", aMilli = 900, bMilli = 900))
    graft.engine.Caches.releaseAll()
  }

  test("rfm: hand quintiles, monotone codes, tie determinism") {
    import java.sql.Timestamp
    def t(d: Int) = Timestamp.valueOf(f"2026-01-$d%02d 10:00:00")
    // customer i has i orders, last on day i, total 10*i dollars:
    // with n=5 every quintile score IS the rank, so ci codes iii
    val rows = (1 to 5).flatMap(i => (1 to i).map(j =>
      (s"c$i", t(i - j + 1), if (j == 1) 10.0 * i - (i - 1) else 1.0)))
    val got = graft.operators.Relational
      .rfm(rows.toDF("k", "ts", "v"), "k", "ts", "v")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(7))).toMap
    (1 to 5).foreach { i =>
      val (rd, f, m, code) = got(s"c$i")
      assert(rd === (5 - i).toLong)
      assert(f === i.toLong && m === 1000L * i)
      assert(code === i * 111)
    }
    // full tie: equal metrics rank by key, scores split 1 vs 3 (n=2)
    val tie = Seq(("a", t(1), 5.0), ("b", t(1), 5.0))
      .toDF("k", "ts", "v")
    val ts2 = graft.operators.Relational.rfm(tie, "k", "ts", "v")
      .collect().map(r => r.getString(0) -> r.getInt(7)).toMap
    assert(ts2("a") === 111 && ts2("b") === 333)
    graft.engine.Caches.releaseAll()
  }

  test("joinSizePreflight: hand products, missing-key exclusion, tie-ordered top-N") {
    val a = Seq("x", "x", "x", "y", "y", "z").toDF("k")
    val b = Seq("x", "x", "y", "w", "w", "w", "w").toDF("k")
    val got = graft.operators.Relational
      .joinSizePreflight(a, "k", b, "k")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5)))
    // only shared keys contribute: x -> 3·2 = 6, y -> 2·1 = 2; total 8
    assert(got.toMap === Map(
      "x" -> ((3L, 2L, 6L, 750L, 8L)),
      "y" -> ((2L, 1L, 2L, 250L, 8L))))
    // ordered by (pairs desc, key) and truncated at topN
    assert(got.map(_._1).toSeq === Seq("x", "y"))
    val top1 = graft.operators.Relational
      .joinSizePreflight(a, "k", b, "k", topN = 1)
      .collect().map(_.getString(0))
    assert(top1.toSeq === Seq("x"))
    intercept[IllegalArgumentException](
      graft.operators.Relational.joinSizePreflight(a, "k", b, "k", 0))
    graft.engine.Caches.releaseAll()
  }

  test("fdViolations: exact FD zero case, NULL-as-value, blast radius") {
    // y = f(x) exactly: zero violations, holds 1000‰
    val exact = Seq((1, "a"), (1, "a"), (2, "b"))
      .toDF("x", "y")
    val e = graft.operators.Relational.fdViolations(exact, Seq("x"), "y")
      .collect().head
    assert((e.getLong(0), e.getLong(1), e.getLong(2), e.getLong(3),
      e.getLong(4)) === ((2L, 0L, 1L, 0L, 1000L)))
    // mixed: group 1 has {a,b} (3 rows), group 3 has {d, NULL} (2 rows),
    // group 4 is all-NULL (one value -> conforming), group 2 conforms
    val mixed = Seq((1, Some("a")), (1, Some("b")), (1, Some("a")),
      (2, Some("c")), (3, None), (3, Some("d")), (4, None), (4, None))
      .toDF("x", "y")
    val m = graft.operators.Relational.fdViolations(mixed, Seq("x"), "y")
      .collect().head
    assert((m.getLong(0), m.getLong(1), m.getLong(2), m.getLong(3),
      m.getLong(4)) === ((4L, 2L, 2L, 5L, 500L)))
    intercept[IllegalArgumentException](
      graft.operators.Relational.fdViolations(mixed, Nil, "y"))
  }

  test("benford: hand shares, zero-digit densification, positive-only filter") {
    val df = Seq(1.0, 1.23, 25.0, 0.30, 9.0, -5.0, 0.0, 0.004)
      .toDF("v")
    val got = graft.operators.Relational.benford(df, "v")
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // kept cents: 100, 123, 2500, 30, 900 -> digits 1,1,2,3,9 (n=5);
    // -5.0, 0.0 and sub-cent 0.004 are filtered out
    assert(got.size === 9)
    assert(got(1) === ((2L, 400L, 301L, 99L)))
    assert(got(2) === ((1L, 200L, 176L, 24L)))
    assert(got(3) === ((1L, 200L, 124L, 76L)))
    assert(got(9) === ((1L, 200L, 45L, 155L)))
    // unseen digits still emit, with their full negative deviation
    assert(got(4) === ((0L, 0L, 96L, -96L)))
    assert(got(7) === ((0L, 0L, 57L, -57L)))
  }

  test("mutualInfo: hand 2x2 table, independence zeros, G = 2N*MI per cell") {
    import spark.implicits._
    def table(c00: Int, c01: Int, c10: Int, c11: Int) =
      (Seq.fill(c00)(("a", 0L)) ++ Seq.fill(c01)(("a", 1L)) ++
        Seq.fill(c10)(("b", 0L)) ++ Seq.fill(c11)(("b", 1L)))
        .toDF("x", "y")
    val got = mutualInfo(table(30, 10, 10, 30), "x", "y").collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    // (a,0): ratio 1.5, mi = .375*ln(1.5), g = 60*ln(1.5)
    assert(got(("a", 0L)) === ((30L, 1500000L, 152049L, 24327906L)))
    // (a,1): ratio 0.5 -> negative terms floor DOWN
    assert(got(("a", 1L)) === ((10L, 500000L, -86644L, -13862944L)))
    // per-cell identity g = 2N*mi: in micros g ~= 2N*mi_micro, each
    // floor contributing at most one unit (N = 80 -> 2N = 160)
    got.values.foreach { case (_, _, mi, g) =>
      assert(math.abs(g - 160L * mi) <= 161L, s"g=$g mi=$mi")
    }
    // exact independence: every ratio reads 1e6, every ln term 0
    val ind = mutualInfo(table(20, 20, 20, 20), "x", "y").collect()
    assert(ind.forall(r => r.getLong(3) === 1000000L &&
      r.getLong(4) === 0L && r.getLong(5) === 0L))
    graft.engine.Caches.releaseAll()
  }

  test("lorenzCurve: perfect-equality diagonal, hand two-key skew") {
    import spark.implicits._
    // 10 keys, equal 1.00 each: the curve IS the diagonal
    val eq = (1 to 10).map(i => (i.toLong, 1.0)).toDF("k", "v")
    val d = lorenzCurve(eq, "k", "v", k = 5).orderBy("bucket").collect()
    assert(d.length === 5)
    d.foreach(r => assert(r.getLong(4) === r.getLong(5), r.toString))
    assert(d.last.getLong(4) === 1000000L && d.last.getLong(5) === 1000000L)
    // 4 keys, one holds 70%: bottom half holds 2/10 of the mass
    val skew = Seq((1L, 1.0), (2L, 1.0), (3L, 1.0), (4L, 7.0))
      .toDF("k", "v")
    val s2 = lorenzCurve(skew, "k", "v", k = 2).orderBy("bucket").collect()
    assert(s2.head.getLong(5) === 200000L && s2.head.getLong(4) === 500000L)
    assert(s2.last.getLong(5) === 1000000L)
    graft.engine.Caches.releaseAll()
  }

  test("trimmedMean: hand 10% trim, 0-trim mean identity, heavy trim to median zone") {
    import spark.implicits._
    val df = (1 to 10).map(i => (i.toLong, i.toDouble)).toDF("k", "v")
    // 100 permille: one row off each end -> keep 2..9 dollars
    val t10 = trimmedMean(df, "v", "k", 100).collect().head
    assert((t10.getLong(0), t10.getLong(1)) === ((8L, 4400L)))
    assert(t10.getDouble(2) === 550.0)
    // zero trim IS the mean
    val t0 = trimmedMean(df, "v", "k", 0).collect().head
    assert((t0.getLong(0), t0.getLong(1)) === ((10L, 5500L)))
    // 499 permille: cut 4 each end, the two middle rows survive
    val t499 = trimmedMean(df, "v", "k", 499).collect().head
    assert((t499.getLong(0), t499.getLong(1)) === ((2L, 1100L)))
    graft.engine.Caches.releaseAll()
  }

  test("modePerGroup: counts, tie-to-smallest, singleton groups") {
    import spark.implicits._
    val df = Seq(
      ("g1", "b"), ("g1", "b"), ("g1", "a"),
      ("g2", "y"), ("g2", "x"), // tie at 1: 'x' < 'y' wins
      ("g3", "only"))
      .toDF("g", "v")
    val got = modePerGroup(df, "g", "v").collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(got === Map("g1" -> (("b", 2L)), "g2" -> (("x", 1L)),
      "g3" -> (("only", 1L))))
    graft.engine.Caches.releaseAll()
  }

  test("rareCollapse: top-k kept, tie order, tail mass conserved") {
    import spark.implicits._
    val df = (Seq.fill(5)("a") ++ Seq.fill(3)("b") ++ Seq("c", "d"))
      .toDF("cat")
    val got = rareCollapse(df, "cat", 2).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("a" -> 5L, "b" -> 3L, "__other__" -> 2L))
    assert(got.values.sum === 10L)
    // equal-count tie at the k boundary: 'c' < 'd' keeps c
    val tie = rareCollapse(df, "cat", 3).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(tie("c") === 1L && tie("__other__") === 1L && !tie.contains("d"))
  }

  test("targetEncode: m=0 is the category mean, hand shrink values") {
    import spark.implicits._
    val df = Seq(("a", 1.0), ("a", 3.0), ("b", 5.0)).toDF("cat", "y")
    val m0 = targetEncode(df, "cat", "y", 0).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(m0 === Map("a" -> 200000000L, "b" -> 500000000L))
    val m1 = targetEncode(df, "cat", "y", 1).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    // (3*400 + 900)*1e6 div 9 and (3*500 + 900)*1e6 div 6
    assert(m1("a") === ((2L, 400L, 233333333L)))
    assert(m1("b") === ((1L, 500L, 400000000L)))
    graft.engine.Caches.releaseAll()
  }

  test("scd3Head: dup collapse, never-changed null, same-instant tiebreak") {
    import spark.implicits._
    import java.sql.Timestamp
    def at(h: Int) = Timestamp.valueOf(f"2026-01-01 $h%02d:00:00")
    val log = Seq(
      (1L, "A", at(1), 1L), (1L, "A", at(2), 2L), // re-stated: no change
      (1L, "B", at(3), 3L), (1L, "B", at(4), 4L),
      (1L, "C", at(5), 5L),
      (2L, "X", at(1), 6L),
      (3L, "A", at(1), 7L), (3L, "B", at(1), 8L)) // same instant
      .toDF("k", "v", "ts", "id")
    val got = scd3Head(log, "k", "v", "ts", "id").collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), Option(r.getString(2)), r.getTimestamp(3))))
      .toMap
    assert(got(1L) === (("C", Some("B"), at(5))))
    assert(got(2L) === (("X", None, at(1))))
    // (ts, id) total order: id 8 is current, id 7 is previous
    assert(got(3L) === (("B", Some("A"), at(1))))
  }

  test("missingnessPairs: hand cells, marginal identity") {
    import spark.implicits._
    val df = Seq(
      (Option(1L), Option("x")), (Option.empty[Long], Option("y")),
      (Option.empty[Long], Option.empty[String]), (Option(2L), None),
      (Option(3L), Option("z")))
      .toDF("a", "b")
    val r = missingnessPairs(df, Seq("a", "b")).collect().head
    assert((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      === ((1L, 1L, 1L, 2L)))
    assert(r.getLong(2) + r.getLong(3) + r.getLong(4) + r.getLong(5) === 5L)
  }

  test("columnEntropy: constant zero, uniform ln(k), skew below uniform") {
    import spark.implicits._
    val df = (0 until 8).map(i =>
      ("same", s"u${i % 4}", if (i < 7) "heavy" else "rare"))
      .toDF("const", "uni", "skew")
    val got = columnEntropy(df, Seq("const", "uni", "skew")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    assert(got("const") === ((8L, 1L, 0L)))
    // 4 uniform values: 4 * floor(0.25 * ln(4) * 1e6)
    assert(got("uni") === ((8L, 4L, 4L * 346573L)))
    // 7/1 split: floor-quantized terms, strictly below the 2-uniform
    assert(got("skew")._3 === 116839L + 259930L)
    assert(got("skew")._3 < 693147L)
  }

  test("goldenRecord: null-skip survivorship, all-null column, tie determinism") {
    import spark.implicits._
    import java.sql.Timestamp
    def at(h: Int) = Timestamp.valueOf(f"2026-01-01 $h%02d:00:00")
    val log = Seq(
      (1L, at(1), 1L, Option("x"), Option.empty[String]),
      (1L, at(2), 2L, Option.empty[String], Option("p")),
      // later row with null a must NOT erase the survivor "y" below
      (1L, at(3), 3L, Option("y"), Option.empty[String]),
      (1L, at(4), 4L, Option.empty[String], Option.empty[String]),
      // key 2: column b never set -> null in the golden record
      (2L, at(1), 5L, Option("z"), Option.empty[String]),
      // key 3: same-instant tie -> larger event_id wins
      (3L, at(1), 6L, Option("old"), None),
      (3L, at(1), 7L, Option("new"), None))
      .toDF("k", "ts", "id", "a", "b")
    val got = goldenRecord(log, "k", "ts", "id", Seq("a", "b"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), Option(r.getString(2)), Option(r.getString(3)))))
      .toMap
    assert(got(1L) === ((4L, Some("y"), Some("p"))))
    assert(got(2L) === ((1L, Some("z"), None)))
    assert(got(3L) === ((2L, Some("new"), None)))
  }

  test("topKPerKey: hand ranks, ties, short keys, window equality on random data") {
    import spark.implicits._
    val df = Seq(
      ("a", 5L, 1L), ("a", 9L, 2L), ("a", 9L, 3L), ("a", 1L, 4L),
      ("b", 7L, 9L)) // fewer rows than k: all emitted
      .toDF("k", "v", "id")
    val got = topKPerKey(df, "k", "v", "id", 2).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    // ties on ord break by tie asc: (9,2) then (9,3); 5 and 1 cut
    assert(got(("a", 1)) === ((9L, 2L)) && got(("a", 2)) === ((9L, 3L)))
    assert(got(("b", 1)) === ((7L, 9L)) && got.size === 3)
    // random frame: exactly the window's top-k, every key
    val rnd = new scala.util.Random(11)
    val big = Seq.fill(500)((s"k${rnd.nextInt(7)}", rnd.nextInt(40).toLong,
      rnd.nextLong().abs)).toDF("k", "v", "id")
    val viaAgg = topKPerKey(big, "k", "v", "id", 4)
      .select("key", "rank", "ord", "tie").as[(String, Int, Long, Long)]
      .collect().toSet
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"k")
      .orderBy($"v".desc, $"id")
    val viaWindow = big
      .withColumn("rank", row_number().over(w)).filter($"rank" <= 4)
      .select($"k", $"rank", $"v", $"id").as[(String, Int, Long, Long)]
      .collect().toSet
    assert(viaAgg === viaWindow)
  }

  test("fdDiscover: planted dependency, violated pair, self-pairs excluded") {
    import spark.implicits._
    // b = f(a) so a->b holds; a has 6 classes, b has 2 -> b->a fails
    val df = (0L until 6L).map(a => (a, a % 2, s"c${a % 3}"))
      .toDF("a", "b", "c")
    val got = fdDiscover(df, Seq("a", "b", "c")).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(got.size === 6) // 3 * 2 ordered pairs, no self-pairs
    assert(got(("a", "b")) === ((6L, 6L, true)))
    assert(got(("a", "c")) === ((6L, 6L, true)))
    assert(got(("b", "a")) === ((2L, 6L, false)))
    assert(got(("c", "b")) === ((3L, 6L, false)))
  }

  test("businessDaysBetween: pinned week walk, weekend start, negative mirror") {
    import spark.implicits._
    // epoch day 0 = Thursday 1970-01-01
    val cases = Seq(
      (0L, 0L, 0L),   // empty span
      (0L, 1L, 1L),   // [Thu]
      (0L, 2L, 2L),   // [Thu,Fri]
      (0L, 3L, 2L),   // +Sat: no change
      (0L, 4L, 2L),   // +Sun: no change
      (0L, 5L, 3L),   // +Mon
      (0L, 7L, 5L),   // one full week
      (0L, 14L, 10L), // two full weeks
      (2L, 4L, 0L),   // Sat..Sun only
      (2L, 9L, 5L),   // Sat..next Sat: one work week
      (5L, 0L, -3L))  // reversed: negated mirror of (0,5)
    val got = cases.toDF("a", "b", "want")
      .select(col("want"),
        graft.operators.Relational.businessDaysBetween(col("a"), col("b"))
          .as("bd"))
      .collect()
    got.foreach(r => assert(r.getLong(1) === r.getLong(0), r.toString))
  }

  test("kAnonymity: class sizes, boundary k, homogeneous class l=1") {
    import spark.implicits._
    val df = Seq(
      ("z1", 30L, "flu"), ("z1", 30L, "flu"), ("z1", 30L, "cold"),
      ("z2", 40L, "flu"), ("z2", 40L, "flu"),
      ("z3", 50L, "cold"))
      .toDF("zip", "age", "disease")
    val got = kAnonymity(df, Seq("zip", "age"), "disease", 3).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    // exactly k: not a violation (strict <)
    assert(got("z1") === ((3L, 2L, false)))
    // k-violating AND sensitive-homogeneous: the worst class
    assert(got("z2") === ((2L, 1L, true)))
    assert(got("z3") === ((1L, 1L, true)))
  }

  test("skyline2d: hand frontier, duplicates kept, tied-axis edges") {
    import spark.implicits._
    val pts = Seq(
      ("k1", 1L, 5L),  // frontier
      ("k2", 2L, 3L),  // frontier
      ("k3", 3L, 3L),  // dominated by k2 (x strictly worse, y tied)
      ("k4", 2L, 3L),  // duplicate of k2: undominated, kept
      ("k5", 2L, 7L),  // dominated by k2 at the same x
      ("k6", 0L, 9L))  // best x: nothing before it
      .toDF("k", "x", "y")
    val got = skyline2d(pts, "k", "x", "y").collect()
      .map(r => r.getString(0) -> r.getBoolean(3)).toMap
    assert(got === Map("k1" -> true, "k2" -> true, "k3" -> false,
      "k4" -> true, "k5" -> false, "k6" -> true))
    // band invariance: a 1-band run (single global window) agrees
    val one = skyline2d(pts, "k", "x", "y", bands = 1).collect()
      .map(r => r.getString(0) -> r.getBoolean(3)).toMap
    assert(one === got)
    graft.engine.Caches.releaseAll()
  }

  test("chi2Summary: sparse perfect 2x2, independence zero, dof") {
    import spark.implicits._
    // perfect association, zero cells ABSENT (sparse convention):
    // two cells each term 10 -> chi2 = 20, V = sqrt(20/40) = sqrt(.5)
    val perfect = (Seq.fill(20)(("a", 0L)) ++ Seq.fill(20)(("b", 1L)))
      .toDF("x", "y")
    val p = chi2Summary(perfect, "x", "y").collect().head
    assert((p.getLong(0), p.getLong(1), p.getLong(2), p.getLong(3))
      === ((40L, 2L, 2L, 1L)))
    assert(p.getLong(4) === 20000000L && p.getLong(5) === 707106L)
    // exact independence: chi2 and V read 0
    val ind = (Seq.fill(10)(("a", 0L)) ++ Seq.fill(10)(("a", 1L)) ++
      Seq.fill(10)(("b", 0L)) ++ Seq.fill(10)(("b", 1L))).toDF("x", "y")
    val i = chi2Summary(ind, "x", "y").collect().head
    assert(i.getLong(4) === 0L && i.getLong(5) === 0L)
    // single-column table: dof 0 -> null V
    val degen = Seq.fill(5)(("a", 0L)).toDF("x", "y")
    assert(chi2Summary(degen, "x", "y").collect().head.isNullAt(5))
    graft.engine.Caches.releaseAll()
  }

  test("hhi: monopoly 1e8, equal split, hand shares, rounding floor") {
    import spark.implicits._
    val df = Seq(
      ("mono", 1L, 5.0),
      ("eq", 10L, 1.0), ("eq", 11L, 1.0), ("eq", 12L, 1.0), ("eq", 13L, 1.0),
      ("hand", 20L, 3.0), ("hand", 21L, 1.0),
      // 3-way equal split: 10000/3 floors to 3333 bp each
      ("third", 30L, 2.0), ("third", 31L, 2.0), ("third", 32L, 2.0))
      .toDF("m", "k", "v")
    val got = hhi(df, "m", "k", "v").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    assert(got("mono") === ((1L, 500L, 100000000L)))
    assert(got("eq") === ((4L, 400L, 4L * 2500L * 2500L)))
    assert(got("hand") === ((2L, 400L, 7500L * 7500L + 2500L * 2500L)))
    // floored shares: hhi undershoots the exact 1/3 split by design
    assert(got("third") === ((3L, 600L, 3L * 3333L * 3333L)))
  }

  test("schemaDiff: added/removed/retyped/unchanged, nested rendering, identical = all unchanged") {
    val a = Seq((1L, "x", 2.0)).toDF("k", "s", "v")
    val b = a.select(col("k").cast("int").as("k"), col("s"),
      struct(col("v").as("inner")).as("n"))
    val got = schemaDiff(a, b)
      .as[(String, String, String, String)].collect().toSeq
    assert(got === Seq(
      ("k", "retyped", "bigint", "int"),
      ("n", "added", null, "struct<inner:double>"),
      ("s", "unchanged", "string", "string"),
      ("v", "removed", "double", null)))
    assert(schemaDiff(a, a)
      .filter(col("status") =!= "unchanged").count() === 0)
  }

  test("candidateKeys: planted dup, planted null, pair rescues non-key") {
    val df = Seq(
      (1L, Option("x"), "p"), (2L, Option("x"), "q"),
      (3L, Option("y"), "p"), (3L, None, "q"))
      .toDF("id", "grp", "tag")
    val out = graft.operators.Relational.candidateKeys(
        df, singles = Seq("id", "grp"),
        pairs = Seq("grp" -> "tag", "id" -> "tag"))
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("ndv"), r.getAs[Long]("n_nulls"),
          r.getAs[Boolean]("is_key")))).toMap
    // id: duplicate 3 → 3 distinct of 4 rows, not a key
    assert(out("id") === ((3L, 0L, false)))
    // grp: null + dup → not a key; ndv counts non-null distinct only
    assert(out("grp") === ((2L, 1L, false)))
    // (grp, tag): the null row poisons the pair
    assert(out("grp,tag") === ((3L, 1L, false)))
    // (id, tag): the duplicate id splits on tag → a true composite key
    assert(out("id,tag") === ((4L, 0L, true)))
    graft.engine.Caches.releaseAll()
  }

  test("simpsonDiversity: monoculture, two-of-each, N<2 null") {
    def f(rows: Seq[(Long, String)]) = rows.toDF("g", "c")
    val got = simpsonDiversity(f(Seq(
      (1L, "x"), (1L, "x"), (1L, "x"),           // monoculture: 1000
      (2L, "x"), (2L, "x"), (2L, "y"), (2L, "y"), // 2+2: 2/12+2/12=333
      (3L, "z"))),                                // single row: null
      "g", "c").orderBy("grp").collect()
    assert(got(0).getAs[Long]("simpson_milli") === 1000L)
    assert(got(0).getAs[Long]("diversity_milli") === 0L)
    assert(got(1).getAs[Long]("simpson_milli") === 333L)
    assert(got(1).getAs[Long]("richness") === 2L)
    assert(got(2).isNullAt(3) && got(2).isNullAt(4))
    graft.engine.Caches.releaseAll()
  }

  test("oddsRatio: hand table, zero-cell fences, RR differs from OR") {
    def f(rows: Seq[(Boolean, Boolean)]) = rows.toDF("e", "y")
    // a=2 b=1 c=1 d=2: OR = 4/1 = 4000; RR = (2/3)/(1/3) = 2000
    val hand = oddsRatio(f(Seq((true, true), (true, true), (true, false),
      (false, true), (false, false), (false, false))), "e", "y")
      .collect().head
    assert((hand.getAs[Long]("a"), hand.getAs[Long]("b"),
      hand.getAs[Long]("c"), hand.getAs[Long]("d")) === ((2L, 1L, 1L, 2L)))
    assert(hand.getAs[Long]("or_milli") === 4000L)
    assert(hand.getAs[Long]("rr_milli") === 2000L)
    // zero unexposed-hit cell: both ratios undefined -> null
    val z = oddsRatio(f(Seq((true, true), (true, false), (false, false))),
      "e", "y").collect().head
    assert(z.isNullAt(4) && z.isNullAt(5))
    graft.engine.Caches.releaseAll()
  }

  test("priceIndex: hand basket, both-periods membership, Fisher mean") {
    // A: 2 @ $1 -> 1 @ $2 (doubled); B: 1 @ $.5 -> 2 @ $.5 (flat);
    // C only in p0: excluded. L = 450/250 = 1.8, P = 300/200 = 1.5
    val rows = Seq(
      ("A", 2.00, 2L, "p0"), ("B", 0.50, 1L, "p0"), ("C", 9.0, 1L, "p0"),
      ("A", 2.00, 1L, "p1"), ("B", 1.00, 2L, "p1"))
      .toDF("item", "rev", "qty", "period")
    val got = priceIndex(rows, "item", "rev", "qty",
      col("period"), "p0", "p1").collect().head
    assert(got.getAs[Long]("n_items") === 2L)
    assert(got.getAs[Long]("sum_e0_cents") === 250L)
    assert(got.getAs[Long]("sum_e1_cents") === 300L)
    assert(got.getAs[Long]("laspeyres_milli") === 1800L)
    assert(got.getAs[Long]("paasche_milli") === 1500L)
    // sqrt(1800 * 1500) = 1643.16...
    assert(got.getAs[Long]("fisher_milli") === 1643L)
    graft.engine.Caches.releaseAll()
  }

  test("mantelHaenszel: Simpson's-paradox pair, single-stratum = crude, " +
      "zero fences") {
    def f(rows: Seq[(Long, Boolean, Boolean)]) = rows.toDF("k", "e", "y")
    // stratum 1: a=8,b=2,c=4,d=1 (n=15): OR=8*1/(2*4)=1, term ratio 1
    // stratum 2: a=1,b=4,c=2,d=8 (n=15): OR=1*8/(4*2)=1 → pooled 1000
    // crude: a=9,b=6,c=6,d=9 → OR=81/36=2250 — paradox visible
    def cells(k: Long, a: Int, b: Int, c: Int, d: Int) =
      Seq.fill(a)((k, true, true)) ++ Seq.fill(b)((k, true, false)) ++
      Seq.fill(c)((k, false, true)) ++ Seq.fill(d)((k, false, false))
    val got = mantelHaenszel(
      f(cells(1L, 8, 2, 4, 1) ++ cells(2L, 1, 4, 2, 8)), "k", "e", "y")
      .collect().head
    assert(got.getAs[Long]("n_strata") === 2L)
    assert(got.getAs[Long]("or_mh_milli") === 1000L)
    assert(got.getAs[Long]("or_crude_milli") === 2250L)
    // one stratum: pooled == crude (floor-rounded micro terms)
    val one = mantelHaenszel(f(cells(1L, 6, 3, 2, 4)), "k", "e", "y")
      .collect().head
    assert(one.getAs[Long]("or_mh_milli") ===
      one.getAs[Long]("or_crude_milli"))
    // every-stratum zero bc-product: pooled fenced NULL
    val z = mantelHaenszel(f(cells(1L, 3, 0, 2, 4)), "k", "e", "y")
      .collect().head
    assert(z.isNullAt(z.fieldIndex("or_mh_milli")) &&
      z.isNullAt(z.fieldIndex("or_crude_milli")))
  }

  test("theilIndex: perfect equality zero, hand values, non-positive " +
      "exclusion") {
    import spark.implicits._
    def run(vals: Seq[Double]) = graft.operators.Relational.theilIndex(
      vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("k", "y"), "k", "y").collect().head
    // replicate the operator's per-distinct-value quantization
    def expect(cents: Seq[Long]): Long = {
      val pos = cents.filter(_ > 0)
      val n = pos.size.toDouble
      val s1 = pos.sum.toDouble
      val sum = pos.groupBy(identity).map { case (v, vs) =>
        math.floor(vs.size.toDouble * (v * n / s1) *
          math.log(v * n / s1) * 1000000.0).toLong }.sum
      math.signum(sum) * (math.abs(sum) / pos.size)
    }
    // perfect equality: every ratio 1, ln 1 = 0
    val eq = run(Seq(5.0, 5.0, 5.0, 5.0))
    assert(eq.getLong(0) === 4L && eq.getLong(2) === 0L)
    // hand two-level {2,2,8,8} dollars
    val two = run(Seq(2.0, 2.0, 8.0, 8.0))
    assert(two.getLong(2) === expect(Seq(200L, 200L, 800L, 800L)))
    assert(two.getLong(2) > 0L)
    // concentrated {0.01, 0.01, 0.98} is more unequal than {2,2,8,8}
    val conc = run(Seq(0.01, 0.01, 0.98))
    assert(conc.getLong(2) === expect(Seq(1L, 1L, 98L)))
    assert(conc.getLong(2) > two.getLong(2))
    // zero/negative keys are excluded and counted
    val drop = run(Seq(3.0, 3.0, 0.0, -2.0))
    assert((drop.getLong(0), drop.getLong(1), drop.getLong(2))
      === ((2L, 2L, 0L)))
    graft.engine.Caches.releaseAll()
  }

  test("inclusionDeps: nest chain, NULL exclusion, near-miss, " +
      "reflexive exclusion") {
    import spark.implicits._
    // a = {1,2} nests in b = {1,2,3} nests in c = {1,2,3,4};
    // d = {1,2,9} is a near-miss against c (9 missing); a's NULL row
    // must not count toward its distinct set
    val df = Seq(
      (Some(1L), 1L, 1L, 1L), (Some(2L), 2L, 2L, 2L),
      (None, 3L, 3L, 9L), (Some(1L), 1L, 4L, 1L))
      .toDF("a", "b", "c", "d")
    val got = graft.operators.Relational
      .inclusionDeps(df, Seq("a", "b", "c", "d"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(got.size === 12) // 4*3 ordered pairs, no self-pairs
    assert(got(("a", "b")) === ((2L, 2L, true)))   // NULL excluded
    assert(got(("a", "c")) === ((2L, 2L, true)))
    assert(got(("b", "c")) === ((3L, 3L, true)))
    assert(got(("c", "b")) === ((4L, 3L, false)))  // reverse fails
    assert(got(("d", "c")) === ((3L, 2L, false)))  // near-miss: 9 absent
    assert(got(("a", "d")) === ((2L, 2L, true)))
    graft.engine.Caches.releaseAll()
  }
}
