package graft

import org.apache.spark.sql.functions._

import graft.engine.Tables
import graft.tables.VersionedTable

/** Commit-log table format: snapshot isolation, time travel, copy-on-write
  * economics (clean directories carry over by name), rollback, vacuum
  * reference counting, and the concurrent-commit conflict. */
class VersionedTableSpec extends SparkTestBase {

  private def freshRoot(name: String): String = {
    val p = s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_vt/$name"
    val hp = new org.apache.hadoop.fs.Path(p)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
    p
  }

  private def orders = Tables(spark, sfDir, "orders")
    .select("o_orderkey", "o_custkey", "o_orderstatus")

  test("create + append: latest is the union, v1 snapshot unchanged (time travel)") {
    val root = freshRoot("basic")
    VersionedTable.create(spark, root, orders.filter(col("o_orderkey") % 2 === 0))
    VersionedTable.append(spark, root, orders.filter(col("o_orderkey") % 2 === 1))
    assert(VersionedTable.latestVersion(spark, root) === 2)
    assert(VersionedTable.readLatest(spark, root).count() === orders.count())
    assert(VersionedTable.readVersion(spark, root, 1).count() ===
      orders.filter(col("o_orderkey") % 2 === 0).count())
  }

  test("overwrite replaces the snapshot; prior version still readable") {
    val root = freshRoot("overwrite")
    VersionedTable.create(spark, root, orders)
    VersionedTable.overwrite(spark, root, orders.limit(10))
    assert(VersionedTable.readLatest(spark, root).count() === 10)
    assert(VersionedTable.readVersion(spark, root, 1).count() === orders.count())
  }

  test("deleteWhere is copy-on-write: clean directories carry over by name") {
    val root = freshRoot("delete")
    // two dirs with disjoint key ranges: the delete touches only one
    VersionedTable.create(spark, root, orders.filter(col("o_orderkey") <= 3000))
    VersionedTable.append(spark, root, orders.filter(col("o_orderkey") > 3000))
    val m = VersionedTable.deleteWhere(spark, root, col("o_orderkey") <= 100)
    assert(m.dataDirs.contains("d-00000002"),
      s"untouched dir must survive by name: ${m.dataDirs}")
    assert(!m.dataDirs.contains("d-00000001"), "dirty dir must be rewritten")
    val left = VersionedTable.readLatest(spark, root)
    assert(left.filter(col("o_orderkey") <= 100).isEmpty)
    assert(left.count() === orders.filter(col("o_orderkey") > 100).count())
  }

  test("deleteWhere matching nothing keeps the snapshot dirs verbatim") {
    val root = freshRoot("delete_noop")
    val v1 = VersionedTable.create(spark, root, orders)
    val m = VersionedTable.deleteWhere(spark, root, col("o_orderkey") < 0)
    assert(m.dataDirs === v1.dataDirs)
    assert(VersionedTable.readLatest(spark, root).count() === orders.count())
  }

  test("replaceWhere: out-of-slice rejection, no-match pure insert, " +
      "clean-dir carry, re-run idempotence") {
    val root = freshRoot("replace_where")
    VersionedTable.create(spark, root,
      orders.filter(col("o_orderkey") <= 3000))
    VersionedTable.append(spark, root,
      orders.filter(col("o_orderkey") > 3000))
    // every incoming row must satisfy the predicate (Delta validation)
    intercept[IllegalArgumentException](
      VersionedTable.replaceWhere(spark, root,
        orders.filter(col("o_orderkey") > 200),
        col("o_orderkey") <= 100))
    // slice backfill: the <=100 slice replaced by a doubled-custkey
    // copy; the untouched second dir carries over BY NAME
    val backfill = orders.filter(col("o_orderkey") <= 100)
      .withColumn("o_custkey", col("o_custkey") * 2)
    val m = VersionedTable.replaceWhere(spark, root, backfill,
      col("o_orderkey") <= 100)
    assert(m.dataDirs.contains("d-00000002"),
      s"clean dir must survive by name: ${m.dataDirs}")
    assert(!m.dataDirs.contains("d-00000001"))
    val after = VersionedTable.readLatest(spark, root)
    assert(after.count() === orders.count())
    val doubled = after.filter(col("o_orderkey") <= 100)
      .agg(sum(col("o_custkey"))).collect().head.getLong(0)
    val orig = orders.filter(col("o_orderkey") <= 100)
      .agg(sum(col("o_custkey"))).collect().head.getLong(0)
    assert(doubled === 2 * orig)
    // re-run replaces the slice again instead of duplicating it
    VersionedTable.replaceWhere(spark, root, backfill,
      col("o_orderkey") <= 100)
    assert(VersionedTable.readLatest(spark, root).count() === orders.count())
    // nothing matches: pure insert, every base dir carried by name
    val fresh = freshRoot("replace_insert")
    val v1 = VersionedTable.create(spark, fresh,
      orders.filter(col("o_orderkey") <= 3000))
    val m2 = VersionedTable.replaceWhere(spark, fresh,
      orders.filter(col("o_orderkey") > 3000),
      col("o_orderkey") > 3000)
    assert(v1.dataDirs.forall(m2.dataDirs.contains))
    assert(VersionedTable.readLatest(spark, fresh).count()
      === orders.count())
  }

  test("upsert replaces matched keys, inserts the rest; null-free contract") {
    val root = freshRoot("upsert")
    VersionedTable.create(spark, root, orders.filter(col("o_orderkey") <= 3000))
    VersionedTable.append(spark, root, orders.filter(col("o_orderkey") > 3000))
    import spark.implicits._
    val updates = Seq(
      (4L, 999L, "X"),    // replaces an existing key (dir 1)
      (999999L, 1L, "N")) // brand-new key (insert)
      .toDF("o_orderkey", "o_custkey", "o_orderstatus")
    val m = VersionedTable.upsert(spark, root, updates, Seq("o_orderkey"))
    assert(m.dataDirs.contains("d-00000002"), "clean dir carries over")
    val now = VersionedTable.readLatest(spark, root)
    assert(now.count() === orders.count() + 1)
    assert(now.filter(col("o_orderkey") === 4).select("o_orderstatus")
      .head().getString(0) === "X")
    assert(now.filter(col("o_orderkey") === 999999).count() === 1)
  }

  test("rollback restores an old snapshot as a new append-only commit") {
    val root = freshRoot("rollback")
    VersionedTable.create(spark, root, orders)
    VersionedTable.overwrite(spark, root, orders.limit(5))
    val m = VersionedTable.rollback(spark, root, 1)
    assert(m.version === 3 && m.op === "rollback")
    assert(VersionedTable.readLatest(spark, root).count() === orders.count())
    // history is append-only: the bad v2 is still inspectable
    assert(VersionedTable.readVersion(spark, root, 2).count() === 5)
  }

  test("vacuum reclaims unreferenced dirs; retained window still time-travels") {
    val root = freshRoot("vacuum")
    VersionedTable.create(spark, root, orders.filter(col("o_orderkey") % 2 === 0))
    VersionedTable.append(spark, root, orders.filter(col("o_orderkey") % 2 === 1))
    VersionedTable.overwrite(spark, root, orders.limit(7))   // v3 orphans d-1,d-2
    VersionedTable.compact(spark, root)                      // v4 orphans d-3
    val dead = VersionedTable.vacuum(spark, root, keepVersions = 1)
    assert(dead === Seq("d-00000001", "d-00000002", "d-00000003"))
    assert(VersionedTable.readLatest(spark, root).count() === 7)
    // the vacuumed tail is gone from history; the retained head remains
    val hist = VersionedTable.history(spark, root)
      .orderBy("version").collect().map(r => (r.getInt(0), r.getString(1)))
    assert(hist === Array((4, "compact")))
    intercept[Exception](VersionedTable.readVersion(spark, root, 1).count())
  }

  test("vacuum with a re-widened retention tolerates the already-trimmed tail") {
    val root = freshRoot("revacuum")
    VersionedTable.create(spark, root, orders.limit(5))
    VersionedTable.overwrite(spark, root, orders.limit(4))
    VersionedTable.overwrite(spark, root, orders.limit(3))
    VersionedTable.vacuum(spark, root, keepVersions = 1) // trims v1, v2
    // a LARGER window than what survives must not read deleted manifests
    val dead = VersionedTable.vacuum(spark, root, keepVersions = 5)
    assert(dead.isEmpty)
    assert(VersionedTable.readLatest(spark, root).count() === 3)
  }

  test("conflicting commit for the same version loses with the log intact") {
    val root = freshRoot("conflict")
    VersionedTable.create(spark, root, orders.limit(3))
    // simulate a racing writer that already published version 2
    VersionedTable.append(spark, root, orders.limit(1))
    intercept[java.util.ConcurrentModificationException] {
      // a second committer computed base=1 concurrently; its commit of
      // version 2 must fail now that the log already holds 00000002.json
      val m = graft.tables.VersionedTable.Manifest(2, "append", 1, Seq("d-00000001"))
      val method = VersionedTable.getClass.getDeclaredMethods
        .find(_.getName == "commit").get
      method.setAccessible(true)
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      try method.invoke(VersionedTable, fs, new org.apache.hadoop.fs.Path(root), m)
      catch { case e: java.lang.reflect.InvocationTargetException => throw e.getCause }
    }
    assert(VersionedTable.latestVersion(spark, root) === 2)
    assert(VersionedTable.readLatest(spark, root).count() === 4)
  }

  test("changes reports the multiset snapshot diff as insert/delete rows") {
    val root = freshRoot("cdf")
    VersionedTable.create(spark, root, orders.filter(col("o_orderkey") <= 100))
    VersionedTable.deleteWhere(spark, root, col("o_orderkey") <= 50)
    VersionedTable.append(spark, root, orders.filter(col("o_orderkey") === 200))
    val d12 = VersionedTable.changes(spark, root, 1, 2)
    assert(d12.filter(col("_change") === "delete").count() ===
      orders.filter(col("o_orderkey") <= 50).count())
    assert(d12.filter(col("_change") === "insert").isEmpty)
    val d23 = VersionedTable.changes(spark, root, 2, 3)
    assert(d23.collect().map(r => (r.getLong(0), r.getString(3))).toSeq ===
      Seq((200L, "insert")))
    // identity diff is empty
    assert(VersionedTable.changes(spark, root, 3, 3).isEmpty)
  }

  test("changesSince: cursor-based incremental pull across several commits") {
    val root = freshRoot("since")
    VersionedTable.create(spark, root, orders.filter(col("o_orderkey") <= 100))
    VersionedTable.append(spark, root, orders.filter(col("o_orderkey") === 200))
    VersionedTable.deleteWhere(spark, root, col("o_orderkey") <= 10)
    val (delta, cursor) = VersionedTable.changesSince(spark, root, 1)
    assert(cursor === 3)
    // net effect of commits 2..3 vs snapshot 1: +1 insert, 10 deletes
    assert(delta.filter(col("_change") === "insert").count() === 1)
    assert(delta.filter(col("_change") === "delete").count() ===
      orders.filter(col("o_orderkey") <= 10).count())
    // caught-up cursor: empty delta, same cursor, schema intact
    val (empty, c2) = VersionedTable.changesSince(spark, root, cursor)
    assert(c2 === cursor && empty.isEmpty)
    assert(empty.columns.last === "_change")
    intercept[IllegalArgumentException](
      VersionedTable.changesSince(spark, root, 99))
  }

  test("applyChanges replays a CDF delta: replica converges to the primary multiset") {
    val primary = freshRoot("cdc_primary")
    val replica = freshRoot("cdc_replica")
    VersionedTable.create(spark, primary, orders.filter(col("o_orderkey") <= 3000))
    // replica seeded from the primary's v1 snapshot
    VersionedTable.create(spark, replica,
      VersionedTable.readVersion(spark, primary, 1))
    // primary moves on: append, COW delete, upsert
    VersionedTable.append(spark, primary,
      orders.filter(col("o_orderkey") > 3000))
    VersionedTable.deleteWhere(spark, primary, col("o_orderstatus") === "P")
    import spark.implicits._
    VersionedTable.upsert(spark, primary,
      Seq((8L, 777L, "Z")).toDF("o_orderkey", "o_custkey", "o_orderstatus"),
      Seq("o_orderkey"))
    // one pull + one apply
    val (delta, cursor) = VersionedTable.changesSince(spark, primary, 1)
    VersionedTable.applyChanges(spark, replica, delta)
    val p = VersionedTable.readLatest(spark, primary)
    val r = VersionedTable.readLatest(spark, replica)
    assert(r.count() === p.count())
    assert(r.exceptAll(p).isEmpty && p.exceptAll(r).isEmpty,
      "replica must equal the primary as a multiset")
    // a second, empty sync still commits (the sync is recorded)
    val (d2, _) = VersionedTable.changesSince(spark, primary, cursor)
    val m = VersionedTable.applyChanges(spark, replica, d2)
    assert(m.op === "cdc")
    assert(VersionedTable.readLatest(spark, replica).count() === p.count())
  }

  test("changes across a schema evolution aligns on the union schema") {
    val root = freshRoot("cdf_evolve")
    VersionedTable.create(spark, root,
      orders.filter(col("o_orderkey") <= 10).select("o_orderkey"))
    VersionedTable.append(spark, root,
      orders.filter(col("o_orderkey") === 20)
        .select(col("o_orderkey"), col("o_custkey").as("extra")))
    val d = VersionedTable.changes(spark, root, 1, 2)
    // the pre-evolution rows are unchanged (null extra on both sides);
    // only the evolved append surfaces, as an insert carrying its extra
    assert(d.columns.toSeq === Seq("o_orderkey", "extra", "_change"))
    val rows = d.collect().map(r => (r.getLong(0), r.getString(2))).toSeq
    assert(rows === Seq((20L, "insert")), rows.toString)
  }

  test("appendIfAbsent: a replayed tag is a no-op returning the prior commit") {
    val root = freshRoot("idem")
    VersionedTable.create(spark, root, orders.limit(0))
    val first = VersionedTable.appendIfAbsent(spark, root, orders.limit(8), "b0")
    val replay = VersionedTable.appendIfAbsent(spark, root, orders.limit(8), "b0")
    assert(first.version === 2 && replay.version === 2)
    assert(VersionedTable.latestVersion(spark, root) === 2)
    assert(VersionedTable.readLatest(spark, root).count() === 8)
    // a different tag commits normally
    VersionedTable.appendIfAbsent(spark, root, orders.limit(2), "b1")
    assert(VersionedTable.readLatest(spark, root).count() === 10)
  }

  test("schema evolution: merged read nulls the old slice; COW + compact keep the union schema") {
    val root = freshRoot("evolve")
    VersionedTable.create(spark, root,
      orders.filter(col("o_orderkey") <= 3000).select("o_orderkey"))
    VersionedTable.append(spark, root,
      orders.filter(col("o_orderkey") > 3000)
        .select(col("o_orderkey"), col("o_custkey").as("extra")))
    val merged = VersionedTable.readLatest(spark, root, mergeSchema = true)
    assert(merged.columns.toSeq === Seq("o_orderkey", "extra"))
    assert(merged.filter(col("extra").isNull).count() ===
      orders.filter(col("o_orderkey") <= 3000).count())
    // delete keyed on the NEW column: the pre-evolution dir reads it as
    // null (cond null = clean) and must carry over untouched by name
    val m = VersionedTable.deleteWhere(spark, root, col("extra") > 0)
    assert(m.dataDirs.contains("d-00000001"), m.dataDirs.toString)
    assert(VersionedTable.readLatest(spark, root, mergeSchema = true)
      .filter(col("extra").isNotNull).count() ===
      orders.filter(col("o_orderkey") > 3000 && col("o_custkey") <= 0).count())
    // compact must not silently drop the evolved column
    VersionedTable.compact(spark, root)
    assert(VersionedTable.readLatest(spark, root).columns.toSeq
      .sorted === Seq("extra", "o_orderkey"))
  }

  test("clustered compact rewrites the snapshot into range-disjoint files") {
    val root = freshRoot("optimize")
    // three appends in key-interleaved order: every dir spans the whole
    // key domain, so pre-compact min-max stats skip nothing
    VersionedTable.create(spark, root, orders.filter(col("o_orderkey") % 3 === 0))
    VersionedTable.append(spark, root, orders.filter(col("o_orderkey") % 3 === 1))
    VersionedTable.append(spark, root, orders.filter(col("o_orderkey") % 3 === 2))
    val m = VersionedTable.compact(spark, root,
      clusterCol = Some("o_orderkey"), nRanges = 4)
    assert(m.dataDirs.size === 1)
    val now = VersionedTable.readLatest(spark, root)
    assert(now.count() === orders.count())
    // per-file key ranges must not overlap (the data-skipping property)
    val ranges = now
      .groupBy(input_file_name().as("f"))
      .agg(min("o_orderkey").as("lo"), max("o_orderkey").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(ranges.length >= 2, s"expected multiple files, got $ranges")
    ranges.sliding(2).foreach { case Array((_, hi), (lo, _)) =>
      assert(hi < lo, s"overlapping file ranges: $ranges")
    }
  }

  test("appendAudited: a failed audit leaves the version untouched and sweeps staging") {
    val root = freshRoot("audited")
    VersionedTable.create(spark, root, orders.limit(5))
    // clean batch commits
    VersionedTable.appendAudited(spark, root,
      orders.filter(col("o_orderkey") > 100).limit(5),
      rowRules = Seq("key_positive" -> (col("o_orderkey") > 0)))
    assert(VersionedTable.latestVersion(spark, root) === 2)
    // violating batch: audit fails, no new version, staged dir swept
    val e = intercept[IllegalStateException] {
      VersionedTable.appendAudited(spark, root,
        orders.limit(3).withColumn("o_orderkey", lit(-1L)),
        rowRules = Seq("key_positive" -> (col("o_orderkey") > 0)))
    }
    assert(e.getMessage.contains("key_positive=3"))
    assert(VersionedTable.latestVersion(spark, root) === 2)
    assert(VersionedTable.readLatest(spark, root).count() === 10)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root, "d-00000003")))
    // the version number is not burned: the next clean append takes it
    VersionedTable.append(spark, root, orders.limit(1))
    assert(VersionedTable.latestVersion(spark, root) === 3)
  }

  test("partitioned layout: fixed at create, inherited by append and COW rewrites") {
    val root = freshRoot("partitioned")
    val o = Tables(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"),
        year(col("o_orderdate")).as("yr"))
    val m1 = VersionedTable.create(spark, root,
      o.filter(col("o_orderkey") % 2 === 0), partitionCols = Seq("yr"))
    assert(m1.partitionCols === Seq("yr"))
    VersionedTable.append(spark, root, o.filter(col("o_orderkey") % 2 === 1))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // both data dirs carry hive partition subdirs
    for (d <- Seq("d-00000001", "d-00000002")) {
      val subdirs = fs.listStatus(new org.apache.hadoop.fs.Path(root, d))
        .filter(_.isDirectory).map(_.getPath.getName)
      assert(subdirs.exists(_.startsWith("yr=")), s"$d: ${subdirs.toSeq}")
    }
    // snapshot read reconstitutes the partition column across dirs
    val now = VersionedTable.readLatest(spark, root)
    assert(now.columns.contains("yr"))
    assert(now.count() === o.count())
    // a COW delete's rewrite keeps the layout (manifest + disk)
    val m3 = VersionedTable.deleteWhere(spark, root, col("o_orderstatus") === "F")
    assert(m3.partitionCols === Seq("yr"))
    val rewritten = m3.dataDirs.filter(_ == "d-00000003")
    assert(rewritten.nonEmpty)
    val sub3 = fs.listStatus(new org.apache.hadoop.fs.Path(root, "d-00000003"))
      .filter(_.isDirectory).map(_.getPath.getName)
    assert(sub3.exists(_.startsWith("yr=")), sub3.toSeq.toString)
    assert(VersionedTable.readLatest(spark, root).count() ===
      o.filter(col("o_orderstatus") =!= "F").count())
    // partition-predicate reads prune: plan shows a partition filter
    val plan = VersionedTable.readLatest(spark, root)
      .filter(col("yr") === 1995)
      .queryExecution.executedPlan.toString
    // the equality literal carries the pruning (the isnotnull companion
    // was constraint propagation's, off since r19)
    assert(plan.contains("PartitionFilters: [") &&
      plan.replaceAll("\\s+", " ")
        .matches("(?s).*PartitionFilters: \\[[^\\]]*= 1995\\)\\].*"),
      plan.take(2000))
  }

  test("data-dir allocation skips occupied numbers instead of overwriting") {
    val root = freshRoot("alloc")
    VersionedTable.create(spark, root, orders.limit(4))
    // simulate a concurrent writer's claimed-but-uncommitted dir at the
    // next number: the append must NOT clobber it
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val foreign = new org.apache.hadoop.fs.Path(root, "d-00000002")
    fs.mkdirs(foreign)
    fs.create(new org.apache.hadoop.fs.Path(foreign, ".claim"), false).close()
    val m = VersionedTable.append(spark, root, orders.limit(2))
    assert(m.version === 2)
    assert(m.dataDirs === Seq("d-00000001", "d-00000003"),
      s"must skip the foreign dir: ${m.dataDirs}")
    assert(fs.exists(new org.apache.hadoop.fs.Path(foreign, ".claim")),
      "foreign claim must survive untouched")
    assert(VersionedTable.readLatest(spark, root).count() === 6)
    // the orphan is unreferenced -> vacuum reclaims it
    val dead = VersionedTable.vacuum(spark, root, keepVersions = 2)
    assert(dead === Seq("d-00000002"))
  }

  test("append retries past a lost commit race, re-committing the same dir") {
    val root = freshRoot("retry")
    VersionedTable.create(spark, root, orders.limit(3))       // v1, d-1
    VersionedTable.append(spark, root, orders.limit(2))       // v2, d-2 (the "racer")
    // stage a directory the way a concurrent appender would have, then
    // drive the commit loop with a STALE base guess (v1): the first
    // attempt collides with the racer's v2 and must retry onto v3,
    // committing the already-written directory without rewriting it
    val rootP = new org.apache.hadoop.fs.Path(root)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    orders.limit(1).write.parquet(new org.apache.hadoop.fs.Path(rootP, "d-00000099").toString)
    val m = VersionedTable.commitAppendLoop(fs, rootP, "d-00000099", "",
      baseGuess = 1, maxRetries = 5)
    assert(m.version === 3 && m.baseVersion === 2)
    assert(m.dataDirs === Seq("d-00000001", "d-00000002", "d-00000099"))
    assert(VersionedTable.readLatest(spark, root).count() === 6)
    // retries exhausted -> the conflict surfaces
    intercept[java.util.ConcurrentModificationException] {
      VersionedTable.commitAppendLoop(fs, rootP, "d-00000099", "",
        baseGuess = 1, maxRetries = 0)
    }
  }

  test("delete that empties the table still commits a readable empty snapshot") {
    val root = freshRoot("empty")
    VersionedTable.create(spark, root, orders.limit(20))
    VersionedTable.deleteWhere(spark, root, lit(true))
    val now = VersionedTable.readLatest(spark, root)
    assert(now.isEmpty && now.columns.toSeq ===
      Seq("o_orderkey", "o_custkey", "o_orderstatus"))
  }

  test("PARTITIONED delete that empties the table commits a readable empty snapshot") {
    // a hive-partitioned write of an empty rewrite frame emits no
    // parquet files (no partition values → no dirs) — the empty frame
    // must land unpartitioned so the snapshot keeps a schema-carrying
    // file (r9 advice: the unpartitioned twin above passed while this
    // case committed an unreadable latest version)
    val root = freshRoot("empty_part")
    val o = Tables(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"),
        year(col("o_orderdate")).as("yr"))
    VersionedTable.create(spark, root, o.limit(20), partitionCols = Seq("yr"))
    VersionedTable.deleteWhere(spark, root, lit(true))
    val now = VersionedTable.readLatest(spark, root)
    assert(now.isEmpty)
    assert(now.columns.toSet === Set("o_orderkey", "o_orderstatus", "yr"))
  }

  private def drainStream(df: org.apache.spark.sql.DataFrame,
      name: String): org.apache.spark.sql.DataFrame = {
    val q = df.writeStream.format("memory").queryName(name)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(name)
  }

  test("streamSince delivers exactly the appended commits, cursor advances") {
    val root = freshRoot("stream_since")
    VersionedTable.create(spark, root, orders.filter(col("o_orderkey") <= 100))
    VersionedTable.append(spark, root,
      orders.filter(col("o_orderkey").between(101, 200)))
    VersionedTable.append(spark, root,
      orders.filter(col("o_orderkey").between(201, 300)))
    val (st, cursor) = VersionedTable.streamSince(spark, root, 1)
    assert(cursor === 3)
    assert(st.isStreaming)
    val got = drainStream(st, "ss_basic")
    // exactly the two appends' rows — v1's snapshot never re-delivered
    assert(got.count() ===
      orders.filter(col("o_orderkey").between(101, 300)).count())
    assert(got.agg(min("o_orderkey")).head.getLong(0) > 100)
    // caught-up cursor: schema-correct stream that emits nothing
    val (empty, c2) = VersionedTable.streamSince(spark, root, cursor)
    assert(c2 === cursor)
    assert(drainStream(empty, "ss_caught_up").isEmpty)
  }

  test("streamSince refuses a rewrite in range unless ignoreChanges") {
    val root = freshRoot("stream_since_cow")
    VersionedTable.create(spark, root, orders.limit(50))
    VersionedTable.deleteWhere(spark, root, col("o_orderkey") % 2 === 0)
    val e = intercept[IllegalArgumentException](
      VersionedTable.streamSince(spark, root, 1))
    assert(e.getMessage.contains("v2=delete"))
    // the escape hatch streams the rewrite dir (survivor re-delivery,
    // the documented at-least-once trade — Delta's ignoreChanges)
    val (st, _) = VersionedTable.streamSince(spark, root, 1,
      ignoreChanges = true)
    assert(drainStream(st, "ss_cow").count() ===
      VersionedTable.readLatest(spark, root).count())
  }

  test("streamSince on a partitioned table reconstitutes partition columns") {
    val root = freshRoot("stream_since_part")
    val o = Tables(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"),
        year(col("o_orderdate")).as("yr"))
    VersionedTable.create(spark, root, o.filter(col("o_orderkey") <= 100),
      partitionCols = Seq("yr"))
    VersionedTable.append(spark, root,
      o.filter(col("o_orderkey").between(101, 180)))
    val (st, _) = VersionedTable.streamSince(spark, root, 1)
    val got = drainStream(st, "ss_part")
    assert(got.columns.contains("yr"))
    val want = o.filter(col("o_orderkey").between(101, 180))
    assert(got.count() === want.count())
    // partition values survive the dir-name round trip
    assert(got.groupBy("yr").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      === want.groupBy("yr").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap)
  }

  test("applyChanges whose deletes empty every dirty dir commits a readable PARTITIONED snapshot") {
    // the second scenario of the r9 empty-rewrite advice: a CDF delta of
    // pure deletes covering all rows, applied to a hive-partitioned
    // replica — the rewrite frame is empty and must still land as a
    // schema-carrying (unpartitioned) file
    val root = freshRoot("cdc_empty_part")
    val o = Tables(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"),
        year(col("o_orderdate")).as("yr"))
    VersionedTable.create(spark, root, o.limit(10), partitionCols = Seq("yr"))
    val delta = VersionedTable.readLatest(spark, root)
      .withColumn("_change", lit("delete"))
    val m = VersionedTable.applyChanges(spark, root, delta)
    assert(m.version === 2)
    val now = VersionedTable.readLatest(spark, root)
    assert(now.isEmpty)
    assert(now.columns.toSet === Set("o_orderkey", "o_orderstatus", "yr"))
  }

  test("changesSince caught-up on an evolved table: empty delta carries the union schema") {
    val root = freshRoot("since_evolved")
    VersionedTable.create(spark, root,
      orders.filter(col("o_orderkey") <= 10).select("o_orderkey"))
    VersionedTable.append(spark, root,
      orders.filter(col("o_orderkey") === 20)
        .select(col("o_orderkey"), col("o_custkey").as("extra")))
    val latest = 2
    val (empty, c) = VersionedTable.changesSince(spark, root, latest)
    assert(c === latest && empty.isEmpty)
    // the single-footer fast path could drop "extra"; the caught-up
    // branch must read with mergeSchema so a replica's applyChanges
    // commits the documented no-op sync instead of failing the select
    assert(empty.columns.toSeq === Seq("o_orderkey", "extra", "_change"))
    val replica = freshRoot("since_evolved_replica")
    VersionedTable.create(spark, replica,
      VersionedTable.readLatest(spark, root, mergeSchema = true))
    val m = VersionedTable.applyChanges(spark, replica, empty)
    assert(m.version === 2) // no-op sync version committed
  }

  test("tags: resolve, re-tag moves, drop releases; vacuum pins tagged versions") {
    val root = freshRoot("tags")
    VersionedTable.create(spark, root, orders.filter(col("o_orderkey") % 2 === 0))
    VersionedTable.tagVersion(spark, root, "baseline", 1)
    VersionedTable.overwrite(spark, root, orders.filter(col("o_orderkey") % 2 === 1))
    VersionedTable.overwrite(spark, root, orders.limit(10))
    val evens = orders.filter(col("o_orderkey") % 2 === 0).count()
    assert(VersionedTable.readTag(spark, root, "baseline").count() === evens)
    // vacuum keeping ONLY the latest: v1 is outside the window but
    // tagged — manifest and dirs must survive and still read
    VersionedTable.vacuum(spark, root, keepVersions = 1)
    assert(VersionedTable.readTag(spark, root, "baseline").count() === evens)
    // v2 (untagged, unreferenced) was reclaimed
    assert(intercept[Exception] {
      VersionedTable.readVersion(spark, root, 2).count()
    } != null)
    // re-tag moves the name; drop releases the pin for the NEXT sweep
    VersionedTable.tagVersion(spark, root, "baseline", 3)
    assert(VersionedTable.readTag(spark, root, "baseline").count() === 10)
    assert(VersionedTable.dropTag(spark, root, "baseline"))
    assert(!VersionedTable.dropTag(spark, root, "baseline"))
    val dead = VersionedTable.vacuum(spark, root, keepVersions = 1)
    assert(dead.nonEmpty, "v1's dir reclaimed once its tag is gone")
    assert(intercept[IllegalArgumentException] {
      VersionedTable.readTag(spark, root, "baseline")
    }.getMessage.contains("no tag"))
    intercept[IllegalArgumentException] {
      VersionedTable.tagVersion(spark, root, "nope", 99)
    }
    intercept[IllegalArgumentException] {
      VersionedTable.tagVersion(spark, root, "bad name", 3)
    }
  }

  test("deleteKeysMor: O(keys) write, readers subtract, time travel intact") {
    val root = freshRoot("mor_basic")
    val v1 = VersionedTable.create(spark, root, orders)
    import spark.implicits._
    val m = VersionedTable.deleteKeysMor(spark, root,
      orders.filter(col("o_orderkey") % 7 === 0).select("o_orderkey"))
    // data dirs untouched — the delete wrote only the tombstone
    assert(m.dataDirs === v1.dataDirs)
    assert(m.deleteDirs.size === 1)
    val latest = VersionedTable.readLatest(spark, root)
    assert(latest.filter(col("o_orderkey") % 7 === 0).isEmpty)
    assert(latest.count() ===
      orders.filter(col("o_orderkey") % 7 =!= 0).count())
    // pre-delete snapshot unaffected
    assert(VersionedTable.readVersion(spark, root, 1).count() === orders.count())
    // unknown key column refuses loudly
    assert(intercept[IllegalArgumentException] {
      VersionedTable.deleteKeysMor(spark, root,
        Seq(1L).toDF("no_such_col"))
    }.getMessage.contains("no_such_col"))
  }

  test("MOR scope: a later append with a tombstoned key is live (delete-then-reinsert)") {
    val root = freshRoot("mor_scope")
    VersionedTable.create(spark, root, orders)
    val dead = orders.filter(col("o_orderkey") % 5 === 0)
    VersionedTable.deleteKeysMor(spark, root, dead.select("o_orderkey"))
    // re-append half the deleted keys: the tombstone masks only v1's dir
    val revived = dead.filter(col("o_orderkey") % 10 === 0)
    VersionedTable.append(spark, root, revived)
    val latest = VersionedTable.readLatest(spark, root)
    assert(latest.filter(col("o_orderkey") % 5 === 0).count() ===
      revived.count())
    assert(latest.count() ===
      orders.filter(col("o_orderkey") % 5 =!= 0).count() + revived.count())
  }

  test("MOR + COW interplay: rewrite folds tombstones in, escaped tombstones drop") {
    val root = freshRoot("mor_cow")
    // two dirs with disjoint NONEMPTY key ranges (sf0.001 keys run 0..1499)
    VersionedTable.create(spark, root, orders.filter(col("o_orderkey") <= 700))
    VersionedTable.append(spark, root, orders.filter(col("o_orderkey") > 700))
    // tombstone keys in BOTH dirs
    VersionedTable.deleteKeysMor(spark, root,
      orders.filter(col("o_orderkey") % 7 === 0).select("o_orderkey"))
    // COW delete dirtying only the low dir: its rewrite must fold the
    // tombstone in (no resurrection), the high dir keeps its tombstone
    val m = VersionedTable.deleteWhere(spark, root, col("o_orderkey") <= 100)
    assert(m.deleteDirs.size === 1, "tombstone still masks the clean dir")
    val latest = VersionedTable.readLatest(spark, root)
    assert(latest.filter(col("o_orderkey") % 7 === 0).isEmpty)
    assert(latest.filter(col("o_orderkey") <= 100).isEmpty)
    assert(latest.count() === orders.filter(
      col("o_orderkey") % 7 =!= 0 && col("o_orderkey") > 100).count())
    // a COW rewrite dirtying EVERY masked dir retires the tombstone
    val m2 = VersionedTable.deleteWhere(spark, root, col("o_orderkey") % 2 === 0)
    assert(m2.deleteDirs.isEmpty, s"escaped tombstone must drop: ${m2.deleteDirs}")
    assert(VersionedTable.readLatest(spark, root).count() === orders.filter(
      col("o_orderkey") % 7 =!= 0 && col("o_orderkey") > 100 &&
        col("o_orderkey") % 2 =!= 0).count())
  }

  test("MOR compact materializes the subtraction; vacuum spares live tombstones") {
    val root = freshRoot("mor_compact")
    VersionedTable.create(spark, root, orders)
    VersionedTable.deleteKeysMor(spark, root,
      orders.filter(col("o_custkey") % 3 === 0)
        .select("o_orderkey", "o_custkey").distinct())
    val expected = VersionedTable.readLatest(spark, root).count()
    // vacuum keeping both versions must NOT reclaim the tombstone dir
    VersionedTable.vacuum(spark, root, keepVersions = 2)
    assert(VersionedTable.readLatest(spark, root).count() === expected)
    val m = VersionedTable.compact(spark, root)
    assert(m.deleteDirs.isEmpty)
    assert(m.dataDirs.size === 1)
    assert(VersionedTable.readLatest(spark, root).count() === expected)
    // after compact + vacuum(1) the tombstone bytes are reclaimable
    val dead = VersionedTable.vacuum(spark, root, keepVersions = 1)
    assert(dead.nonEmpty)
    assert(VersionedTable.readLatest(spark, root).count() === expected)
  }

  test("MOR rollback restores the tombstone set; upsert revives a tombstoned key") {
    val root = freshRoot("mor_rb")
    VersionedTable.create(spark, root, orders)
    VersionedTable.deleteKeysMor(spark, root,
      orders.filter(col("o_orderkey") % 4 === 0).select("o_orderkey"))
    val afterDelete = VersionedTable.readLatest(spark, root).count()
    // upsert one tombstoned key: lands in the NEW dir, immune to the
    // tombstone — the key is live again
    val one = orders.filter(col("o_orderkey") % 4 === 0).limit(1)
    VersionedTable.upsert(spark, root, one, Seq("o_orderkey"))
    assert(VersionedTable.readLatest(spark, root).count() === afterDelete + 1)
    // rollback to the create: full table, no tombstones
    VersionedTable.rollback(spark, root, 1)
    assert(VersionedTable.readLatest(spark, root).count() === orders.count())
    // rollback to the MOR version: tombstones back in force
    VersionedTable.rollback(spark, root, 2)
    assert(VersionedTable.readLatest(spark, root).count() === afterDelete)
  }

  test("MOR on a partitioned table; null keys are never matched away") {
    val root = freshRoot("mor_part")
    VersionedTable.create(spark, root, orders,
      partitionCols = Seq("o_orderstatus"))
    VersionedTable.deleteKeysMor(spark, root,
      orders.filter(col("o_orderstatus") === "F")
        .select("o_orderkey").limit(50))
    assert(VersionedTable.readLatest(spark, root).count() === orders.count() - 50)
    // a null key row survives any tombstone (anti-join null semantics)
    val withNull = orders.limit(1).withColumn("o_orderkey",
      lit(null).cast("long"))
    VersionedTable.append(spark, root, withNull)
    VersionedTable.deleteKeysMor(spark, root, withNull.select("o_orderkey"))
    assert(VersionedTable.readLatest(spark, root)
      .filter(col("o_orderkey").isNull).count() === 1)
  }

  // ---- MERGE clause surface -------------------------------------------

  test("merge: update/delete/insert clauses, delete wins, s_ conditions see the source") {
    import spark.implicits._
    val root = freshRoot("merge")
    val target = Seq((1L, "keep", 10L), (2L, "upd", 20L), (3L, "del", 30L),
      (4L, "untouched", 40L)).toDF("k", "tag", "v")
    VersionedTable.create(spark, root, target)
    val source = Seq((2L, "newer", 200L), (3L, "whatever", 300L),
      (5L, "insert-me", 50L), (6L, "skip-me", 60L))
      .toDF("k", "tag", "v")
    VersionedTable.merge(spark, root, source, Seq("k"),
      // update only when the SOURCE value is bigger than the target's
      updateWhen = Some(col("s_v") > col("v")),
      // delete on the TARGET tag; delete wins over update
      deleteWhen = Some(col("tag") === "del"))
    val got = VersionedTable.readLatest(spark, root)
      .as[(Long, String, Long)].collect().sortBy(_._1)
    assert(got === Seq(
      (1L, "keep", 10L),        // matched? no (not in source) -> kept
      (2L, "newer", 200L),      // updated: 200 > 20
      (4L, "untouched", 40L),   // never matched
      (5L, "insert-me", 50L),   // not matched -> inserted
      (6L, "skip-me", 60L)))    // not matched -> inserted
    // k=3 deleted even though s_v(300) > v(30) — delete wins
    assert(!got.map(_._1).contains(3L))
  }

  test("merge: no-insert mode, update condition false keeps the target row, multi-match rejected") {
    import spark.implicits._
    val root = freshRoot("merge_edge")
    VersionedTable.create(spark, root,
      Seq((1L, 100L), (2L, 200L)).toDF("k", "v"))
    VersionedTable.merge(spark, root,
      Seq((1L, 1L), (9L, 900L)).toDF("k", "v"), Seq("k"),
      updateWhen = Some(col("s_v") > col("v")), // 1 < 100: condition false
      insertUnmatched = false)
    val got = VersionedTable.readLatest(spark, root)
      .as[(Long, Long)].collect().sortBy(_._1)
    assert(got === Seq((1L, 100L), (2L, 200L))) // nothing changed, no 9
    intercept[IllegalArgumentException] {
      VersionedTable.merge(spark, root,
        Seq((1L, 1L), (1L, 2L)).toDF("k", "v"), Seq("k"))
    }
    // upsert equivalence: default clauses replace matched, insert rest
    VersionedTable.merge(spark, root,
      Seq((2L, 999L), (7L, 700L)).toDF("k", "v"), Seq("k"))
    val up = VersionedTable.readLatest(spark, root)
      .as[(Long, Long)].collect().sortBy(_._1)
    assert(up === Seq((1L, 100L), (2L, 999L), (7L, 700L)))
  }

  test("merge: source lacking a column updates only what it carries; tombstoned rows don't match") {
    import spark.implicits._
    val root = freshRoot("merge_evo")
    VersionedTable.create(spark, root,
      Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L)).toDF("k", "tag", "v"))
    // MOR-delete k=3 first: a merge source matching a tombstoned key
    // must INSERT (the row is gone), not resurrect-update it
    VersionedTable.deleteKeysMor(spark, root, Seq(Tuple1(3L)).toDF("k"))
    // the source carries only (k, v): UPDATE SET * takes v from the
    // source and keeps the target's tag (evolution-safe)
    VersionedTable.merge(spark, root,
      Seq((2L, 999L), (3L, 333L)).toDF("k", "v"), Seq("k"))
    val got = VersionedTable.readLatest(spark, root)
      .as[(Long, String, Long)].collect().sortBy(_._1)
    assert(got === Seq(
      (1L, "a", 10L),    // untouched
      (2L, "b", 999L),   // updated v, kept tag
      (3L, null, 333L))) // re-inserted fresh (tag absent from source -> null)
  }

  test("merge on a hive-partitioned table keeps the layout") {
    val root = freshRoot("merge_part")
    VersionedTable.create(spark, root, orders,
      partitionCols = Seq("o_orderstatus"))
    val m = VersionedTable.merge(spark, root,
      orders.limit(20).withColumn("o_custkey", col("o_custkey") + 777L),
      Seq("o_orderkey"))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(root, m.dataDirs.last))
      .exists(_.getPath.getName.startsWith("o_orderstatus=")))
    assert(VersionedTable.readLatest(spark, root).count() === orders.count())
    assert(VersionedTable.readLatest(spark, root)
      .filter(col("o_custkey") > 777L + 1000000L).count() === 0) // sanity
  }

  // ---- partition-spec evolution ---------------------------------------

  test("evolvePartitioning: new data lands hive-laid-out, old dirs untouched, mixed reads equal") {
    val root = freshRoot("pevolve")
    VersionedTable.create(spark, root, orders.filter(col("o_orderkey") % 2 === 0))
    val m = VersionedTable.evolvePartitioning(spark, root, Seq("o_orderstatus"))
    assert(m.op === "partition-evolve" && m.version === 2)
    val m3 = VersionedTable.append(spark, root,
      orders.filter(col("o_orderkey") % 2 === 1))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the new dir is hive-partitioned; the old one is not
    def hiveDirs(d: String) = fs.listStatus(
        new org.apache.hadoop.fs.Path(root, d))
      .count(_.getPath.getName.startsWith("o_orderstatus="))
    assert(hiveDirs(m3.dataDirs.last) > 0)
    assert(hiveDirs(m3.dataDirs.head) === 0)
    // mixed-layout snapshot reads the full union
    assert(VersionedTable.readLatest(spark, root).count() === orders.count())
    // COW delete rewrites its dirty dirs under the NEW spec
    VersionedTable.deleteWhere(spark, root, col("o_orderstatus") === "F")
    val m4 = VersionedTable.readVersion(spark, root, 4)
    assert(m4.filter(col("o_orderstatus") === "F").isEmpty)
    assert(m4.count() === orders.filter(col("o_orderstatus") =!= "F").count())
    // evolving to unpartitioned is rejected; unknown columns rejected
    intercept[IllegalArgumentException](
      VersionedTable.evolvePartitioning(spark, root, Nil))
    intercept[IllegalArgumentException](
      VersionedTable.evolvePartitioning(spark, root, Seq("nope")))
    // no-op evolution to the same spec commits nothing
    val before = VersionedTable.latestVersion(spark, root)
    VersionedTable.evolvePartitioning(spark, root, Seq("o_orderstatus"))
    assert(VersionedTable.latestVersion(spark, root) === before)
  }

  test("evolvePartitioning: rollback restores the old spec; compact migrates to one layout") {
    val root = freshRoot("pevolve_rb")
    VersionedTable.create(spark, root, orders,
      partitionCols = Seq("o_orderstatus"))
    VersionedTable.evolvePartitioning(spark, root, Seq("o_custkey"))
    VersionedTable.compact(spark, root) // whole snapshot under the new spec
    assert(VersionedTable.readLatest(spark, root).count() === orders.count())
    val m = VersionedTable.rollback(spark, root, 1)
    assert(m.partitionCols === Seq("o_orderstatus"))
    // post-rollback append lands under the RESTORED spec
    val m5 = VersionedTable.append(spark, root, orders.limit(3))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(root, m5.dataDirs.last))
      .exists(_.getPath.getName.startsWith("o_orderstatus=")))
  }

  // ---- CHECK constraints ----------------------------------------------

  test("CHECK constraint gates appends; violating staged dir is swept, table untouched") {
    import graft.tables.VersionedTable.ConstraintViolationException
    val root = freshRoot("constraint")
    VersionedTable.create(spark, root, orders.filter(col("o_orderkey") % 2 === 0))
    VersionedTable.addConstraint(spark, root, "key_nonneg", "o_orderkey >= 0")
    VersionedTable.append(spark, root, orders.filter(col("o_orderkey") % 2 === 1))
    val before = VersionedTable.readLatest(spark, root).count()
    val beforeDirs = new java.io.File(root).list().count(_.startsWith("d-"))
    intercept[ConstraintViolationException] {
      VersionedTable.append(spark, root,
        orders.limit(3).withColumn("o_orderkey", lit(-5L)))
    }
    assert(VersionedTable.latestVersion(spark, root) === 2)
    assert(VersionedTable.readLatest(spark, root).count() === before)
    // the violating staged directory was swept — no orphan bytes
    assert(new java.io.File(root).list().count(_.startsWith("d-")) === beforeDirs)
  }

  test("addConstraint validates existing data; NULL passes; drop re-opens the gate") {
    import graft.tables.VersionedTable.ConstraintViolationException
    val root = freshRoot("constraint_add")
    VersionedTable.create(spark, root, orders)
    // existing rows violate: rejected, and NOT stored
    intercept[ConstraintViolationException] {
      VersionedTable.addConstraint(spark, root, "only_o", "o_orderstatus = 'O'")
    }
    assert(VersionedTable.tableConstraints(spark, root).count() === 0)
    VersionedTable.addConstraint(spark, root, "key_nonneg", "o_orderkey >= 0")
    // SQL CHECK null semantics: a NULL expression result passes
    VersionedTable.append(spark, root,
      orders.limit(2).withColumn("o_orderkey", lit(null).cast("long")))
    intercept[ConstraintViolationException] {
      VersionedTable.append(spark, root,
        orders.limit(1).withColumn("o_orderkey", lit(-7L)))
    }
    assert(VersionedTable.dropConstraint(spark, root, "key_nonneg"))
    VersionedTable.append(spark, root,
      orders.limit(1).withColumn("o_orderkey", lit(-7L)))
    assert(VersionedTable.readLatest(spark, root)
      .filter(col("o_orderkey") === -7L).count() === 1)
  }

  test("constraints gate upsert payloads and survive COW; MOR key files are exempt") {
    import graft.tables.VersionedTable.ConstraintViolationException
    val root = freshRoot("constraint_cow")
    VersionedTable.create(spark, root, orders)
    VersionedTable.addConstraint(spark, root, "cust_nonneg", "o_custkey >= 0")
    intercept[ConstraintViolationException] {
      VersionedTable.upsert(spark, root,
        orders.limit(2).withColumn("o_custkey", lit(-1L)), Seq("o_orderkey"))
    }
    // COW delete rewrites valid rows — passes the gate
    VersionedTable.deleteWhere(spark, root, col("o_orderstatus") === "F")
    // MOR tombstone keys are not table rows: a key FILE with values that
    // would violate a row constraint on another column still commits
    VersionedTable.deleteKeysMor(spark, root,
      orders.filter(col("o_orderkey") % 11 === 0).select("o_orderkey"))
    assert(VersionedTable.readLatest(spark, root).count() ===
      orders.filter(col("o_orderstatus") =!= "F" &&
        col("o_orderkey") % 11 =!= 0).count())
  }

  // ---- directory stats, data skipping, metadata counts -----------------

  test("readWhereBetween skips non-overlapping directories, result equals plain filter") {
    val root = freshRoot("skip")
    VersionedTable.create(spark, root,
      orders.filter(col("o_orderkey") < 1000))
    VersionedTable.append(spark, root,
      orders.filter(col("o_orderkey") >= 1000 && col("o_orderkey") < 3000))
    VersionedTable.append(spark, root,
      orders.filter(col("o_orderkey") >= 3000))
    val (kept, all) = VersionedTable.pruneDirs(spark, root, "o_orderkey",
      1200L, 1800L)
    assert(all.size === 3)
    assert(kept.size === 1) // only the middle batch can match
    val got = VersionedTable.readWhereBetween(spark, root, "o_orderkey",
      1200L, 1800L)
    val want = orders.filter(col("o_orderkey").between(1200, 1800))
    assert(got.count() === want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("pruning a range no directory overlaps returns an empty, schema-carrying frame") {
    val root = freshRoot("skip_empty")
    VersionedTable.create(spark, root, orders.filter(col("o_orderkey") < 500))
    val got = VersionedTable.readWhereBetween(spark, root, "o_orderkey",
      100000000L, 200000000L)
    assert(got.isEmpty)
    assert(got.columns.toSeq === orders.columns.toSeq)
  }

  test("string-column pruning uses lexicographic bounds; unknown column is unprunable") {
    val root = freshRoot("skip_str")
    VersionedTable.create(spark, root,
      orders.filter(col("o_orderstatus") === "F"))
    VersionedTable.append(spark, root,
      orders.filter(col("o_orderstatus") === "P"))
    val (kept, all) = VersionedTable.pruneDirs(spark, root, "o_orderstatus",
      "O", "Q")
    assert(all.size === 2 && kept.size === 1)
    // a column with no stats entry (not in the table at all) never prunes
    val (k2, a2) = VersionedTable.pruneDirs(spark, root, "no_such_col",
      0L, 1L)
    assert(k2 === a2)
    // a bound whose KIND differs from the stats domain never prunes
    // (days bound against an integral column)
    val (k3, a3) = VersionedTable.pruneDirs(spark, root, "o_orderkey",
      java.time.LocalDate.parse("1994-01-01"),
      java.time.LocalDate.parse("1994-12-31"))
    assert(k3 === a3)
  }

  test("timestamp pruning in micros; all-null and empty directories are pruned") {
    val root = freshRoot("skip_ts")
    val dated = Tables(spark, sfDir, "orders")
      .select("o_orderkey", "o_orderdate")
    VersionedTable.create(spark, root,
      dated.filter(year(col("o_orderdate")) === 1994))
    VersionedTable.append(spark, root,
      dated.filter(year(col("o_orderdate")) === 1996))
    VersionedTable.append(spark, root, // all-null range column
      dated.limit(5).withColumn("o_orderdate",
        lit(null).cast(dated.schema("o_orderdate").dataType)))
    VersionedTable.append(spark, root, dated.filter(lit(false))) // empty dir
    val lo = java.time.LocalDateTime.parse("1996-02-01T00:00:00")
    val hi = java.time.LocalDateTime.parse("1996-11-30T23:59:59")
    val (kept, all) = VersionedTable.pruneDirs(spark, root, "o_orderdate",
      lo, hi)
    assert(all.size === 4 && kept.size === 1)
    val got = VersionedTable.readWhereBetween(spark, root, "o_orderdate",
      lo, hi)
    val want = dated.filter(col("o_orderdate").between(lit(lo), lit(hi)))
    assert(got.count() === want.count() && got.count() > 0)
  }

  test("metadataCount: exact through append/COW/compact, None under MOR tombstones") {
    val root = freshRoot("meta_count")
    VersionedTable.create(spark, root, orders.filter(col("o_orderkey") % 3 === 0))
    val n1 = orders.filter(col("o_orderkey") % 3 === 0).count()
    assert(VersionedTable.metadataCount(spark, root) === Some(n1))
    VersionedTable.append(spark, root, orders.filter(col("o_orderkey") % 3 === 1))
    VersionedTable.deleteWhere(spark, root, col("o_orderstatus") === "F")
    val n3 = VersionedTable.readLatest(spark, root).count()
    assert(VersionedTable.metadataCount(spark, root) === Some(n3))
    VersionedTable.deleteKeysMor(spark, root,
      orders.filter(col("o_orderkey") % 7 === 0).select("o_orderkey"))
    assert(VersionedTable.metadataCount(spark, root) === None) // honest fallback
    VersionedTable.compact(spark, root)
    assert(VersionedTable.metadataCount(spark, root) ===
      Some(VersionedTable.readLatest(spark, root).count()))
    // time travel: versioned counts stay answerable
    assert(VersionedTable.metadataCount(spark, root, version = 1) === Some(n1))
  }

  test("readWhereBetween(mergeSchema) on an evolved range column: old dirs kept-but-unmatching") {
    val root = freshRoot("skip_evolve")
    VersionedTable.create(spark, root, orders.limit(10)) // no "extra" column
    VersionedTable.append(spark, root,
      orders.limit(5).withColumn("extra", col("o_orderkey") + 1000000L))
    // old dir has no stats entry for "extra": unprunable, stays readable
    val (kept, all) = VersionedTable.pruneDirs(spark, root, "extra",
      1000000L, 2000000L)
    assert(all.size === 2 && kept.size === 2)
    val got = VersionedTable.readWhereBetween(spark, root, "extra",
      1000000L, 2000000L, mergeSchema = true)
    // old rows read extra as null -> never match the BETWEEN
    assert(got.count() === 5)
  }

  test("compactWhere: selector union bin-packs, clean dirs carry byte-identical, tombstones fold") {
    val root = freshRoot("optimize")
    // d1 big (will be tombstone-hit), d2/d3 small trickle, d4 big clean
    VersionedTable.create(spark, root, orders.filter(col("o_orderkey") % 5 === 0))
    VersionedTable.append(spark, root,
      orders.filter(col("o_orderkey") % 5 === 1).limit(20))
    VersionedTable.append(spark, root,
      orders.filter(col("o_orderkey") % 5 === 2).limit(20))
    VersionedTable.append(spark, root, orders.filter(col("o_orderkey") % 5 === 3))
    VersionedTable.deleteKeysMor(spark, root,
      orders.filter(col("o_orderkey") % 5 === 0 && col("o_orderkey") % 3 === 0)
        .select("o_orderkey"))
    val want = VersionedTable.readLatest(spark, root)
    val wantN = want.count()
    val preDirs = VersionedTable.dataDirsOf(spark, root, 5)
    assert(preDirs.size === 4)
    // snapshot the clean dir's physical files (d4 = third append)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def fileSnap(d: String): Seq[(String, Long, Long)] =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/$d")).toSeq
        .filter(_.isFile).map(f =>
          (f.getPath.getName, f.getLen, f.getModificationTime)).sortBy(_._1)
    val cleanDir = preDirs(3)
    val cleanBefore = fileSnap(cleanDir)
    // where hits d1 (post-tombstone rows remain), maxRows takes d2/d3;
    // big orders count at sf0.001 is ~300 per slice, so threshold 50
    // separates the 20-row trickle dirs from the big ones
    val m = VersionedTable.compactWhere(spark, root,
      where = Some(col("o_orderkey") % 5 === 0), maxRows = Some(50L))
    assert(m.version === 6 && m.op === "optimize")
    val postDirs = VersionedTable.dataDirsOf(spark, root)
    assert(postDirs.size === 2) // one packed + one carried
    assert(postDirs.contains(cleanDir), "clean dir carried BY NAME")
    assert(fileSnap(cleanDir) === cleanBefore, "clean dir byte-untouched")
    // contents identical across the commit; tombstones are materialized
    // (no deleteDirs carried for the rewritten dirs)
    val got = VersionedTable.readLatest(spark, root)
    assert(got.count() === wantN)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // nothing left to pack: metadata no-op, no commit
    val noop = VersionedTable.compactWhere(spark, root, maxRows = Some(50L))
    assert(noop.version === 6)
    assert(VersionedTable.dataDirsOf(spark, root) === postDirs)
  }

  test("compactWhere: one qualifying dir WITH tombstones still rewrites (materialization)") {
    val root = freshRoot("optimize_one")
    VersionedTable.create(spark, root, orders.filter(col("o_orderkey") < 500))
    // delete BEFORE the second append: the tombstone's scope is d1 only,
    // so folding d1 retires it (a later append is live by sequence rule)
    VersionedTable.deleteKeysMor(spark, root,
      orders.filter(col("o_orderkey") < 500 && col("o_orderkey") % 2 === 0)
        .select("o_orderkey"))
    VersionedTable.append(spark, root, orders.filter(col("o_orderkey") >= 500))
    val want = VersionedTable.readLatest(spark, root).count()
    // where selects ONLY the tombstoned first dir: < 2 qualifying dirs,
    // but outstanding tombstones force the rewrite anyway
    val m = VersionedTable.compactWhere(spark, root,
      where = Some(col("o_orderkey") < 500))
    assert(m.op === "optimize")
    assert(m.deleteDirs.isEmpty, "folded tombstones are not carried")
    assert(VersionedTable.readLatest(spark, root).count() === want)
    // and with no selector match at all: pure no-op even under MOR-free state
    val n2 = VersionedTable.compactWhere(spark, root,
      where = Some(col("o_orderkey") < -1))
    assert(n2.version === m.version)
  }

  test("compactWhere requires a selector") {
    val root = freshRoot("optimize_nosel")
    VersionedTable.create(spark, root, orders.limit(10))
    intercept[IllegalArgumentException](VersionedTable.compactWhere(spark, root))
  }

  test("DATE-column pruning in epoch days ('A' kind) with LocalDate bounds") {
    val root = freshRoot("skip_date")
    val dated = Tables(spark, sfDir, "orders")
      .select(col("o_orderkey"), to_date(col("o_orderdate")).as("d"))
    val years = dated.select(year(col("d")).as("y")).distinct()
      .collect().map(_.getInt(0)).sorted
    VersionedTable.create(spark, root, dated.filter(year(col("d")) === years.head))
    VersionedTable.append(spark, root, dated.filter(year(col("d")) === years.last))
    val lo = java.time.LocalDate.ofYearDay(years.head, 1)
    val hi = java.time.LocalDate.ofYearDay(years.head, 60)
    val (kept, all) = VersionedTable.pruneDirs(spark, root, "d", lo, hi)
    assert(all.size === 2 && kept.size === 1, "only the first-year dir overlaps")
    val got = VersionedTable.readWhereBetween(spark, root, "d", lo, hi)
    val want = dated.filter(col("d").between(lit(lo), lit(hi)))
    assert(got.count() === want.count() && got.count() > 0)
  }

  test("versionAsOf / readAsOf: wall-clock time travel over manifest mtimes") {
    val root = freshRoot("asof")
    VersionedTable.create(spark, root, orders.limit(2))
    Thread.sleep(100) // separate the two commit mtimes cleanly
    VersionedTable.append(spark, root, orders.limit(3))
    val ts = VersionedTable.history(spark, root).orderBy("version")
      .collect().map(_.getTimestamp(4).toInstant)
    val (t1, t2) = (ts(0), ts(1))
    assert(t1.isBefore(t2))
    assert(VersionedTable.versionAsOf(spark, root, t1) === 1) // inclusive
    assert(VersionedTable.versionAsOf(spark, root, t2.minusMillis(1)) === 1)
    assert(VersionedTable.versionAsOf(spark, root, t2) === 2)
    assert(VersionedTable.readAsOf(spark, root, t1).count() === 2)
    assert(VersionedTable.readAsOf(spark, root, t2.plusSeconds(60))
      .count() === 5)
    // nothing committed yet at asOf: reject rather than guess
    intercept[IllegalArgumentException](
      VersionedTable.versionAsOf(spark, root, t1.minusMillis(1)))
  }

  test("appendIfAbsentCompacting: folds small dirs each turn; replay after compaction no-ops") {
    val root = freshRoot("autocompact")
    VersionedTable.create(spark, root, orders.limit(0))
    VersionedTable.appendIfAbsentCompacting(spark, root, orders.limit(3),
      "b0", smallDirRows = 1000000L)
    VersionedTable.appendIfAbsentCompacting(spark, root, orders.limit(4),
      "b1", smallDirRows = 1000000L)
    val last = VersionedTable.history(spark, root)
      .orderBy(col("version").desc).limit(1).collect().head
    assert(last.getAs[Int]("n_dirs") === 1, "small dirs must fold to one")
    assert(VersionedTable.readLatest(spark, root).count() === 7)
    // the replayed tag survives compaction (old manifests keep it):
    // no duplicate rows, no new commit
    val before = VersionedTable.latestVersion(spark, root)
    VersionedTable.appendIfAbsentCompacting(spark, root, orders.limit(3),
      "b0", smallDirRows = 1000000L)
    assert(VersionedTable.readLatest(spark, root).count() === 7)
    assert(VersionedTable.latestVersion(spark, root) === before)
  }

  test("vacuumExpiredBefore: age-based retention keeps the cutoff snapshot exact") {
    val root = freshRoot("vacage")
    VersionedTable.create(spark, root, orders.limit(2))    // v1
    Thread.sleep(100)
    VersionedTable.overwrite(spark, root, orders.limit(3)) // v2
    Thread.sleep(100)
    VersionedTable.append(spark, root, orders.limit(4))    // v3: 7 rows
    val t2 = VersionedTable.history(spark, root).orderBy("version")
      .collect()(1).getTimestamp(4).toInstant
    val dead = VersionedTable.vacuumExpiredBefore(spark, root, t2)
    // v1 (overwritten dir) reclaimed; the snapshot current AT t2 and
    // everything after stay addressable and exact
    assert(dead.nonEmpty)
    assert(VersionedTable.readAsOf(spark, root, t2).count() === 3)
    assert(VersionedTable.readLatest(spark, root).count() === 7)
    intercept[Exception](VersionedTable.readVersion(spark, root, 1).count())
  }

  test("distinct-set point pruning: absent key inside [min,max] prunes; cardinality cap falls back") {
    val root = freshRoot("skip_dict")
    val orders = Tables(spark, sfDir, "orders")
      .select(col("o_orderkey"),
        pmod(col("o_orderkey"), lit(8)).cast("long").as("bucket"))
    // dir i holds buckets {i, i+4}: the four [min,max] ranges interleave
    // (1..6, 2..7, ...) so range stats barely prune, but each dir's
    // 2-member distinct SET answers point lookups exactly
    VersionedTable.create(spark, root,
      orders.filter(pmod(col("o_orderkey"), lit(4)) === 0))
    (1 to 3).foreach(i => VersionedTable.append(spark, root,
      orders.filter(pmod(col("o_orderkey"), lit(4)) === i)))
    val (kept, all) = VersionedTable.pruneDirs(spark, root, "bucket", 6L, 6L)
    assert(all.size === 4 && kept.size === 1,
      s"set membership should prune to the one {2,6} dir: $kept")
    val got = VersionedTable.readWhereEquals(spark, root, "bucket", 6L)
    val want = orders.filter(col("bucket") === 6L)
    assert(got.count() === want.count() && got.count() > 0)
    // a RANGE query consults the set too: [5,6] overlaps exactly the
    // {1,5} and {2,6} dirs
    val (kr, _) = VersionedTable.pruneDirs(spark, root, "bucket", 5L, 6L)
    assert(kr.size === 2)
    // high-cardinality o_orderkey abandoned its set (> cap): an absent
    // key inside the overlapping ranges stays conservative — all read
    val keys = orders.select("o_orderkey").distinct()
      .collect().map(_.getLong(0)).toSet
    val absent = (keys.min to keys.max).find(k => !keys.contains(k))
    absent.foreach { k =>
      val (kk, _) = VersionedTable.pruneDirs(spark, root, "o_orderkey", k, k)
      assert(kk.size === 4, "range-only fallback must not prune by set")
    }
  }

  test("distinct-set pruning on ASCII string enums") {
    import spark.implicits._
    val root = freshRoot("skip_dict_str")
    // enough rows that parquet's writer actually dictionary-encodes
    // (tiny 2-row chunks come out PLAIN and the set is rightly absent)
    val a = (1L to 200L).map(i =>
      (i, if (i % 2 == 0) "alpha" else "gamma")).toDF("id", "tag")
    val b = (201L to 400L).map(i =>
      (i, if (i % 2 == 0) "beta" else "delta")).toDF("id", "tag")
    VersionedTable.create(spark, root, a.coalesce(1))
    VersionedTable.append(spark, root, b.coalesce(1))
    // "beta" sits inside dir A's [alpha, gamma] range — only the set
    // knows it isn't there
    val (kept, all) = VersionedTable.pruneDirs(spark, root, "tag", "beta", "beta")
    assert(all.size === 2 && kept.size === 1)
    assert(VersionedTable.readWhereEquals(spark, root, "tag", "beta")
      .count() === 100L)
  }

  test("stats-absent columns (INT96 timestamps) are unprunable, never all-null-pruned") {
    val root = freshRoot("skip_int96")
    val dated = Tables(spark, sfDir, "orders").select("o_orderkey", "o_orderdate")
    try {
      // legacy INT96 writer: parquet-mr refuses min/max stats for INT96,
      // so the footer has values but NO statistics — the r10 scraper bug
      // read that as "all null" and pruned dirs full of live rows.
      // Since r12 table sinks pin MICROS via withStatsTimestampType, the
      // INT96 era is simulated through its deployment override key.
      spark.conf.set("graft.parquet.outputTimestampType", "INT96")
      VersionedTable.create(spark, root, dated.limit(100))
      VersionedTable.append(spark, root,
        dated.filter(col("o_orderkey") % 2 === 0).limit(100))
    } finally spark.conf.unset("graft.parquet.outputTimestampType")
    val lo = java.time.LocalDateTime.parse("1990-01-01T00:00:00")
    val hi = java.time.LocalDateTime.parse("2030-12-31T23:59:59")
    val (kept, all) = VersionedTable.pruneDirs(spark, root, "o_orderdate", lo, hi)
    assert(all.size === 2 && kept === all, "no stats => conservative keep")
    // and the full-range read sees every row (nothing wrongly pruned)
    assert(VersionedTable.readWhereBetween(spark, root, "o_orderdate", lo, hi)
      .count() === 200)
  }

  test("branches: WAP lifecycle — isolated writes, audit read, fast-forward publish") {
    val root = freshRoot("branch")
    VersionedTable.create(spark, root, orders.filter(col("o_orderkey") % 3 === 0))
    VersionedTable.createBranch(spark, root, "wap")
    VersionedTable.appendToBranch(spark, root, "wap",
      orders.filter(col("o_orderkey") % 3 === 1))
    // main is untouched by branch commits: head, content, history
    assert(VersionedTable.latestVersion(spark, root) === 1)
    assert(VersionedTable.readLatest(spark, root).count() ===
      orders.filter(col("o_orderkey") % 3 === 0).count())
    // audit read sees fork + branch commits
    val want = orders.filter(col("o_orderkey") % 3 < 2).count()
    assert(VersionedTable.readBranch(spark, root, "wap").count() === want)
    // publish: one metadata commit, dirs carried by name
    val preDirs = VersionedTable.dataDirsOf(spark, root, 1)
    val m = VersionedTable.fastForward(spark, root, "wap")
    assert(m.version === 2 && m.op === "fast-forward")
    assert(VersionedTable.readLatest(spark, root).count() === want)
    assert(preDirs.forall(VersionedTable.dataDirsOf(spark, root).contains),
      "fork dirs carried by name through the publish")
    // ref reset: branch remains usable, now forked at the publish
    val b = VersionedTable.branches(spark, root)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2)))
    assert(b === Array(("wap", 2, 0)))
    // a no-commit branch fast-forwards as a no-op
    assert(VersionedTable.fastForward(spark, root, "wap").version === 2)
  }

  test("branches: rollbackBranch discards the bad tail, WAP-with-fix publishes clean") {
    val root = freshRoot("branch_fix")
    VersionedTable.create(spark, root, orders.filter(col("o_orderkey") % 3 === 0))
    VersionedTable.createBranch(spark, root, "wap")
    // good batch, then a BAD batch the audit rejects
    VersionedTable.appendToBranch(spark, root, "wap",
      orders.filter(col("o_orderkey") % 3 === 1))
    VersionedTable.appendToBranch(spark, root, "wap",
      orders.filter(col("o_orderkey") % 3 === 2)
        .withColumn("o_custkey", lit(-1L)))
    assert(VersionedTable.readBranch(spark, root, "wap")
      .filter(col("o_custkey") < 0).count() > 0) // audit: bad rows staged
    // fix: roll the branch back past the bad commit, re-append corrected
    val m = VersionedTable.rollbackBranch(spark, root, "wap", 1)
    assert(m.op === "rollback" && m.version === 3)
    assert(VersionedTable.readBranch(spark, root, "wap")
      .filter(col("o_custkey") < 0).isEmpty)
    VersionedTable.appendToBranch(spark, root, "wap",
      orders.filter(col("o_orderkey") % 3 === 2))
    VersionedTable.fastForward(spark, root, "wap")
    // published main = all three CLEAN slices, no negative keys
    val now = VersionedTable.readLatest(spark, root)
    assert(now.count() === orders.count())
    assert(now.filter(col("o_custkey") < 0).isEmpty)
    // rollback bounds are validated
    intercept[IllegalArgumentException](
      VersionedTable.rollbackBranch(spark, root, "wap", 5))
  }

  test("branches: diverged main rejects fast-forward; duplicate/unknown names reject") {
    val root = freshRoot("branch_diverge")
    VersionedTable.create(spark, root, orders.filter(col("o_orderkey") % 3 === 0))
    VersionedTable.createBranch(spark, root, "b")
    VersionedTable.appendToBranch(spark, root, "b",
      orders.filter(col("o_orderkey") % 3 === 1))
    // main moves past the fork: the branch is no longer a fast-forward
    VersionedTable.append(spark, root, orders.filter(col("o_orderkey") % 3 === 2))
    intercept[IllegalArgumentException](
      VersionedTable.fastForward(spark, root, "b"))
    intercept[IllegalArgumentException](
      VersionedTable.createBranch(spark, root, "b"))
    intercept[IllegalArgumentException](
      VersionedTable.readBranch(spark, root, "nope"))
    // main's content never absorbed the branch write
    assert(VersionedTable.readLatest(spark, root).count() ===
      orders.filter(col("o_orderkey") % 3 =!= 1).count())
  }

  test("branches: CHECK constraints gate branch writes like main writes") {
    val root = freshRoot("branch_check")
    VersionedTable.create(spark, root, orders.filter(col("o_orderkey") % 3 === 0))
    VersionedTable.addConstraint(spark, root, "key_nonneg", "o_orderkey >= 0")
    VersionedTable.createBranch(spark, root, "b")
    intercept[VersionedTable.ConstraintViolationException](
      VersionedTable.appendToBranch(spark, root, "b",
        orders.filter(col("o_orderkey") % 3 === 1)
          .withColumn("o_orderkey", -col("o_orderkey") - 1)))
    // the rejected write left the branch untouched and staged nothing
    assert(VersionedTable.branches(spark, root)
      .collect().map(r => (r.getString(0), r.getInt(2))).toSeq === Seq(("b", 0)))
    val clean = orders.filter(col("o_orderkey") % 3 === 1)
    VersionedTable.appendToBranch(spark, root, "b", clean)
    assert(VersionedTable.readBranch(spark, root, "b").count() ===
      orders.filter(col("o_orderkey") % 3 < 2).count())
  }

  test("branches: vacuum retains branch-reachable state; dropBranch releases it") {
    val root = freshRoot("branch_vacuum")
    VersionedTable.create(spark, root, orders.filter(col("o_orderkey") % 4 === 0))
    VersionedTable.createBranch(spark, root, "old") // forked at v1
    VersionedTable.appendToBranch(spark, root, "old",
      orders.filter(col("o_orderkey") % 4 === 1))
    // main advances 3 versions; keep-1 vacuum would normally retire v1
    (2 to 3).foreach(i => VersionedTable.append(spark, root,
      orders.filter(col("o_orderkey") % 4 === i)))
    VersionedTable.compact(spark, root)
    VersionedTable.vacuum(spark, root, keepVersions = 1)
    // the branch still reads: fork manifest AND branch dirs survived
    val want = orders.filter(col("o_orderkey") % 4 < 2).count()
    assert(VersionedTable.readBranch(spark, root, "old").count() === want)
    // dropping the branch releases its pins; the next sweep reclaims
    assert(VersionedTable.dropBranch(spark, root, "old"))
    assert(!VersionedTable.dropBranch(spark, root, "old"))
    val dead = VersionedTable.vacuum(spark, root, keepVersions = 1)
    assert(dead.nonEmpty, "branch-only dirs become reclaimable orphans")
    intercept[IllegalArgumentException](
      VersionedTable.readBranch(spark, root, "old"))
    // main unaffected throughout (the %4=1 slice lived on the branch only)
    assert(VersionedTable.readLatest(spark, root).count() ===
      orders.filter(col("o_orderkey") % 4 =!= 1).count())
  }

  test("MOR pruning commutes with tombstone subtraction") {
    val root = freshRoot("skip_mor")
    VersionedTable.create(spark, root, orders.filter(col("o_orderkey") < 2000))
    VersionedTable.append(spark, root, orders.filter(col("o_orderkey") >= 2000))
    VersionedTable.deleteKeysMor(spark, root,
      orders.filter(col("o_orderkey") % 5 === 0).select("o_orderkey"))
    val got = VersionedTable.readWhereBetween(spark, root, "o_orderkey",
      0L, 1999L)
    val want = orders.filter(col("o_orderkey") < 2000 &&
      col("o_orderkey") % 5 =!= 0)
    assert(got.count() === want.count())
    assert(got.exceptAll(want).isEmpty)
  }

  test("tableStats: kind ranges, dict ndv, all-null, poison and evolution edges") {
    import spark.implicits._
    val root = freshRoot("tstats")
    def frame(withW: Boolean) = {
      val base = (1 to 300).map(i =>
        (i.toLong, Seq("a", "b", "c")(i % 3), i / 2.0))
        .toDF("k", "s", "x")
        .withColumn("z", lit(null).cast("long"))
        .withColumn("p",
          lit("2026-01-01 00:00:00").cast("timestamp_ntz"))
      if (withW) base.withColumn("w", lit(1L)) else base
    }
    VersionedTable.create(spark, root, frame(withW = true))
    VersionedTable.append(spark, root,
      frame(withW = false).withColumn("k", col("k") + 1000L))
    val got = VersionedTable.tableStats(spark, root)
      .collect().map(r => r.getString(0) ->
        ((r.getString(1),
          if (r.isNullAt(2)) null else r.getString(2),
          if (r.isNullAt(3)) null else r.getString(3),
          if (r.isNullAt(4)) null else r.getLong(4)),
          (r.getLong(5), r.getInt(6)))).toMap
    assert(got.values.forall(_._2 === ((600L, 2))))
    // kind-domain ranges fold across dirs
    assert(got("k")._1 === (("L", "1", "1300", null))) // 300 keys/dir > 64: no dict
    assert(got("s")._1 === (("S", "a", "c", 3L)))      // complete 3-value dict
    assert(got("x")._1 === (("D", "0.5", "150.0", null))) // doubles never dict
    // all-null everywhere: known-empty, not unknown
    assert(got("z")._1 === (("0", null, null, 0L)))
    // a column missing from one dir's sidecar (schema evolution) is
    // honestly unknown; NTZ timestamps are poisoned in EVERY dir and
    // therefore absent from the report entirely
    assert(got("w")._1 === (("!", null, null, null)))
    assert(!got.contains("p"))
    assert(got.size === 5)
  }

  test("optimizeClustered: disjoint buckets, tomb folding, empty buckets, skip rate") {
    import spark.implicits._
    val root = freshRoot("cluster")
    // keys 1..100 scattered by parity: both dirs span the full range
    val df = (1L to 100L).map(k => (k, k % 7)).toDF("k", "p")
    VersionedTable.create(spark, root, df.filter(col("k") % 2 === 0))
    VersionedTable.append(spark, root, df.filter(col("k") % 2 === 1))
    VersionedTable.deleteKeysMor(spark, root,
      df.filter(col("k") % 10 === 0).select("k"))
    val want = VersionedTable.readLatest(spark, root)
    val wantN = want.count() // 90
    val (kb, ab) = VersionedTable.pruneDirs(spark, root, "k", 1L, 10L)
    assert(ab.size === 2 && kb.size === 2, "scattered: nothing skips")
    val m = VersionedTable.optimizeClustered(spark, root, "k", 4, "p")
    assert(m.op === "optimize-cluster")
    assert(m.deleteDirs.isEmpty, "folded tombstones are not carried")
    val dirs = VersionedTable.dataDirsOf(spark, root)
    assert(dirs.size === 4)
    // buckets are range-disjoint and stats-tight
    val ranges = dirs.map { d =>
      val x = spark.read.parquet(s"$root/$d")
        .agg(org.apache.spark.sql.functions.min(col("k")),
          org.apache.spark.sql.functions.max(col("k"))).head
      (x.getLong(0), x.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq(a, b) => assert(a._2 < b._1, s"$a overlaps $b")
      case _ => ()
    }
    // content identical across the rewrite (tombstones materialized)
    val got = VersionedTable.readLatest(spark, root)
    assert(got.count() === wantN)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // the same probe now reads exactly one bucket
    val (ka, aa) = VersionedTable.pruneDirs(spark, root, "k", 1L, 10L)
    assert(aa.size === 4 && ka.size === 1)
    // n < k: only the non-empty rank buckets are written
    val root2 = freshRoot("cluster_small")
    VersionedTable.create(spark, root2,
      Seq((1L, 0L), (2L, 0L)).toDF("k", "p"))
    VersionedTable.append(spark, root2, Seq((3L, 0L)).toDF("k", "p"))
    VersionedTable.optimizeClustered(spark, root2, "k", 8, "p")
    assert(VersionedTable.dataDirsOf(spark, root2).size === 3)
    assert(VersionedTable.readLatest(spark, root2).count() === 3)
    intercept[IllegalArgumentException](
      VersionedTable.optimizeClustered(spark, root2, "k", 1, "p"))
    graft.engine.Caches.releaseAll()
  }

  test("optimizeZOrder: aligned grid buckets are exact 8x8 boxes, 2-D skip " +
      "beats 1-D, box read content, tomb folding, n < k") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{min => fmin, max => fmax}
    val root = freshRoot("zorder")
    // dense 32x32 grid scattered by parity: both dirs span both ranges
    val grid = (for (a <- 0L to 31L; b <- 0L to 31L) yield (a * 32 + b, a, b))
      .toDF("id", "a", "b")
    VersionedTable.create(spark, root, grid.filter(col("id") % 2 === 0))
    VersionedTable.append(spark, root, grid.filter(col("id") % 2 === 1))
    val (kb, ab) = VersionedTable.pruneDirsBox(spark, root,
      "a", 0L, 7L, "b", 0L, 7L)
    assert(ab.size === 2 && kb.size === 2, "scattered: nothing skips")
    val m = VersionedTable.optimizeZOrder(spark, root, "a", "b", 16, "id")
    assert(m.op === "optimize-zorder")
    val dirs = VersionedTable.dataDirsOf(spark, root)
    assert(dirs.size === 16)
    // n = 1024 = 16·64 dense aligned cells: every rank bucket is a
    // contiguous z range of 64 = one ALIGNED 8x8 box, exactly
    dirs.foreach { d =>
      val x = spark.read.parquet(s"$root/$d")
        .agg(fmin(col("a")), fmax(col("a")), fmin(col("b")), fmax(col("b")),
          org.apache.spark.sql.functions.count(col("id"))).head
      assert(x.getLong(4) === 64L)
      assert(x.getLong(0) % 8 === 0 && x.getLong(1) - x.getLong(0) === 7L)
      assert(x.getLong(2) % 8 === 0 && x.getLong(3) - x.getLong(2) === 7L)
    }
    // the 8x8 probe box now reads exactly ONE directory; the same
    // probe against a 1-D clustered rewrite of the same grid reads k/4
    // (sorting by a leaves b spanning 0..31 in every bucket)
    val (ka, aa) = VersionedTable.pruneDirsBox(spark, root,
      "a", 0L, 7L, "b", 0L, 7L)
    assert(aa.size === 16 && ka.size === 1)
    val box = VersionedTable.readWhereBox(spark, root,
      "a", 0L, 7L, "b", 0L, 7L)
    assert(box.count() === 64L)
    assert(box.agg(org.apache.spark.sql.functions.sum(col("id"))).head.getLong(0)
      === (for (a <- 0L to 7L; b <- 0L to 7L) yield a * 32 + b).sum)
    val root1d = freshRoot("zorder_1d")
    VersionedTable.create(spark, root1d, grid)
    VersionedTable.optimizeClustered(spark, root1d, "a", 16, "id")
    val (k1, a1) = VersionedTable.pruneDirsBox(spark, root1d,
      "a", 0L, 7L, "b", 0L, 7L)
    assert(a1.size === 16 && k1.size === 4, "1-D layout cannot skip on b")
    // tombstones fold into the rewrite: content identical, none carried
    val root2 = freshRoot("zorder_mor")
    VersionedTable.create(spark, root2, grid.filter(col("id") % 2 === 0))
    VersionedTable.append(spark, root2, grid.filter(col("id") % 2 === 1))
    VersionedTable.deleteKeysMor(spark, root2,
      grid.filter(col("id") % 64 === 0).select("id"))
    val want = VersionedTable.readLatest(spark, root2)
    val wantN = want.count() // 1008
    val m2 = VersionedTable.optimizeZOrder(spark, root2, "a", "b", 4, "id")
    assert(m2.deleteDirs.isEmpty, "folded tombstones are not carried")
    val got = VersionedTable.readLatest(spark, root2)
    assert(got.count() === wantN)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // n < k writes only the non-empty rank buckets; k = 1 rejected
    val root3 = freshRoot("zorder_small")
    VersionedTable.create(spark, root3,
      Seq((1L, 1L, 2L), (2L, 2L, 1L), (3L, 3L, 3L)).toDF("id", "a", "b"))
    VersionedTable.optimizeZOrder(spark, root3, "a", "b", 8, "id")
    assert(VersionedTable.dataDirsOf(spark, root3).size === 3)
    assert(VersionedTable.readLatest(spark, root3).count() === 3)
    intercept[IllegalArgumentException](
      VersionedTable.optimizeZOrder(spark, root3, "a", "b", 1, "id"))
    graft.engine.Caches.releaseAll()
  }

  test("identity append: dense continuation, sidecar-vs-scan start, " +
      "monotonic past MOR deletes, duplicate order rejected") {
    import spark.implicits._
    val root = freshRoot("identity")
    val b1 = Seq((10L, "a"), (30L, "b"), (20L, "c")).toDF("k", "s")
    VersionedTable.createWithIdentity(spark, root, b1, "rid", "k")
    val got1 = VersionedTable.readLatest(spark, root)
      .collect().map(r => r.getAs[Long]("k") -> r.getAs[Long]("rid")).toMap
    assert(got1 === Map(10L -> 1L, 20L -> 2L, 30L -> 3L)) // rank by k
    VersionedTable.appendWithIdentity(spark, root,
      Seq((5L, "d"), (99L, "e")).toDF("k", "s"), "rid", "k")
    val got2 = VersionedTable.readLatest(spark, root)
      .collect().map(r => r.getAs[Long]("k") -> r.getAs[Long]("rid")).toMap
    assert(got2(5L) === 4L && got2(99L) === 5L) // continues from max
    // delete the newest sidecar: the next append falls back to a scan
    // and still continues correctly
    val (fs, _) = (new org.apache.hadoop.fs.Path(root))
      .getFileSystem(spark.sparkContext.hadoopConfiguration) -> ()
    VersionedTable.dataDirsOf(spark, root).foreach { d =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$root/$d/_stats"), false)
    }
    VersionedTable.appendWithIdentity(spark, root,
      Seq((7L, "f")).toDF("k", "s"), "rid", "k")
    assert(VersionedTable.readLatest(spark, root)
      .agg(org.apache.spark.sql.functions.max(col("rid"))).head
      .getLong(0) === 6L)
    // MOR-delete the max-id row: ids stay monotonic, never reused
    VersionedTable.deleteKeysMor(spark, root, Seq(Tuple1(7L)).toDF("k"))
    VersionedTable.appendWithIdentity(spark, root,
      Seq((8L, "g")).toDF("k", "s"), "rid", "k")
    val ids = VersionedTable.readLatest(spark, root)
      .select("rid").as[Long].collect().sorted
    assert(ids === Array(1L, 2L, 3L, 4L, 5L, 7L)) // 6 deleted, not reused
    intercept[IllegalArgumentException](
      VersionedTable.appendWithIdentity(spark, root,
        Seq((1L, "x"), (1L, "y")).toDF("k", "s"), "rid", "k"))
    graft.engine.Caches.releaseAll()
  }

  test("optimizeBucketed: per-dir constant bucket, point read touches " +
      "one dir, content identity, tomb folding, double rewrite rejected") {
    import spark.implicits._
    val root = freshRoot("bucketed")
    val df = (1L to 200L).map(k => (k, k * 7)).toDF("k", "p")
    VersionedTable.create(spark, root, df.filter(col("k") % 2 === 0))
    VersionedTable.append(spark, root, df.filter(col("k") % 2 === 1))
    VersionedTable.deleteKeysMor(spark, root,
      df.filter(col("k") % 50 === 0).select("k"))
    val want = VersionedTable.readLatest(spark, root)
    val wantN = want.count() // 196
    val m = VersionedTable.optimizeBucketed(spark, root, "k", 8)
    assert(m.op === "optimize-bucket" && m.deleteDirs.isEmpty)
    val dirs = VersionedTable.dataDirsOf(spark, root)
    // every dir holds exactly one bucket value, matching bucketOf
    dirs.foreach { d =>
      val bs = spark.read.parquet(s"$root/$d")
        .select("_bucket", "k").collect()
      val distinct = bs.map(_.getLong(0)).distinct
      assert(distinct.length === 1)
      bs.foreach(r => assert(
        VersionedTable.bucketOf(r.getLong(1), 8) === r.getLong(0)))
    }
    // content identical modulo the layout column
    val got = VersionedTable.readLatest(spark, root).drop("_bucket")
    assert(got.count() === wantN)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // point lookup reads exactly one directory and finds the row;
    // a deleted key's read is empty
    val hit = VersionedTable.readKeyBucketed(spark, root, "k", 123L, 8)
    assert(hit.collect().map(r => (r.getLong(0), r.getLong(1)))
      === Array((123L, 861L)))
    val b = VersionedTable.bucketOf(123L, 8)
    val (ka, aa) = VersionedTable.pruneDirs(spark, root, "_bucket", b, b)
    assert(ka.size === 1 && aa.size === dirs.size)
    assert(VersionedTable.readKeyBucketed(spark, root, "k", 50L, 8)
      .isEmpty) // tombstone folded into the rewrite
    intercept[IllegalArgumentException](
      VersionedTable.optimizeBucketed(spark, root, "k", 8))
    graft.engine.Caches.releaseAll()
  }

  test("versionDrift: the same version scores exactly zero, a shifted " +
      "append lands its mass in the top bin") {
    import spark.implicits._
    val root = freshRoot("drift")
    val base = (1L to 200L).map(k => (k, (k % 50).toDouble)).toDF("k", "v")
    VersionedTable.create(spark, root, base)
    // v1 against itself: every bin's counts coincide, term exactly 0.0
    val same = VersionedTable.versionDrift(spark, root, "v", 1, 1)
      .collect()
    assert(same.length === 10)
    same.foreach(r => assert(r.getDouble(3) === 0.0))
    // a far-above-range append: all new mass lands in the TOP bin,
    // whose term goes strictly positive
    VersionedTable.append(spark, root,
      (1L to 100L).map(k => (2000L + k, 999.0)).toDF("k", "v"))
    val drift = VersionedTable.versionDrift(spark, root, "v", 1, 2)
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(drift(9)._2 === drift(9)._1 + 100L)
    assert(drift(9)._3 > 0.0)
    graft.engine.Caches.releaseAll()
  }

  test("cloneTable: snapshot equality, as-of, independence, constraints, fresh history") {
    import spark.implicits._
    val src = freshRoot("clone_src")
    VersionedTable.create(spark, src,
      orders.filter(col("o_orderkey") % 2 === 0))
    VersionedTable.append(spark, src,
      orders.filter(col("o_orderkey") % 2 === 1))
    VersionedTable.addConstraint(spark, src, "key_nonneg", "o_orderkey >= 0")
    VersionedTable.deleteKeysMor(spark, src,
      orders.filter(col("o_orderkey") % 10 === 0).select("o_orderkey"))
    // full clone: content identical, MoR tombstones carried
    val full = freshRoot("clone_full")
    VersionedTable.cloneTable(spark, src, full)
    val want = VersionedTable.readLatest(spark, src)
    val got = VersionedTable.readLatest(spark, full)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // fresh history: exactly one commit, op 'clone'
    assert(VersionedTable.latestVersion(spark, full) === 1)
    assert(VersionedTable.history(spark, full).select("op")
      .as[String].collect().toSeq === Seq("clone"))
    // as-of clone reproduces the v1 snapshot
    val v1 = freshRoot("clone_v1")
    VersionedTable.cloneTable(spark, src, v1, Some(1))
    val wantV1 = VersionedTable.readVersion(spark, src, 1)
    val gotV1 = VersionedTable.readLatest(spark, v1)
    assert(gotV1.exceptAll(wantV1).isEmpty && wantV1.exceptAll(gotV1).isEmpty)
    // independence both ways: appends never cross
    val srcN = VersionedTable.readLatest(spark, src).count()
    VersionedTable.append(spark, full,
      Seq((900001L, 1L, "F")).toDF("o_orderkey", "o_custkey", "o_orderstatus"))
    assert(VersionedTable.readLatest(spark, src).count() === srcN)
    val fullN = VersionedTable.readLatest(spark, full).count()
    VersionedTable.append(spark, src,
      Seq((900002L, 1L, "F")).toDF("o_orderkey", "o_custkey", "o_orderstatus"))
    assert(VersionedTable.readLatest(spark, full).count() === fullN)
    // constraints carried: a violating append on the CLONE is rejected
    intercept[VersionedTable.ConstraintViolationException](
      VersionedTable.append(spark, full,
        Seq((-5L, 1L, "F")).toDF("o_orderkey", "o_custkey", "o_orderstatus")))
    // cloning onto an existing table is refused
    intercept[IllegalArgumentException](
      VersionedTable.cloneTable(spark, src, full))
    graft.engine.Caches.releaseAll()
  }

  test("appendStrict: accept, reject leaves table untouched, rename interplay") {
    import spark.implicits._
    val root = freshRoot("enforce")
    VersionedTable.create(spark, root, Seq((1L, 10L)).toDF("k", "amount"))
    VersionedTable.appendStrict(spark, root, Seq((2L, 20L)).toDF("k", "amount"))
    // wrong name set: rejected, no new version, content unchanged
    val vBefore = VersionedTable.latestVersion(spark, root)
    intercept[IllegalArgumentException](
      VersionedTable.appendStrict(spark, root, Seq((3L, 30L)).toDF("k", "amnt")))
    intercept[IllegalArgumentException](
      VersionedTable.appendStrict(spark, root,
        Seq((3L, 30L, 1L)).toDF("k", "amount", "extra")))
    assert(VersionedTable.latestVersion(spark, root) === vBefore)
    assert(VersionedTable.readLatest(spark, root).count() === 2L)
    // after a rename the LOGICAL name is required, the physical rejected
    VersionedTable.renameColumn(spark, root, "amount", "revenue")
    intercept[IllegalArgumentException](
      VersionedTable.appendStrict(spark, root, Seq((3L, 30L)).toDF("k", "amount")))
    VersionedTable.appendStrict(spark, root, Seq((3L, 30L)).toDF("k", "revenue"))
    assert(VersionedTable.readLatest(spark, root, mergeSchema = true)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      === Seq((1L, 10L), (2L, 20L), (3L, 30L)))
    graft.engine.Caches.releaseAll()
  }

  test("renameColumn: metadata-only mapping, time travel, vacuum survival") {
    import spark.implicits._
    val root = freshRoot("rename")
    VersionedTable.create(spark, root,
      Seq((1L, 10L), (2L, 20L)).toDF("k", "amount"))
    val m = VersionedTable.renameColumn(spark, root, "amount", "revenue")
    assert(m.op === "rename-column" && m.version === 2)
    // metadata-only: same data dirs as the base snapshot
    assert(m.dataDirs === VersionedTable.dataDirsOf(spark, root, 1))
    // the latest read exposes the new logical name over old bytes
    assert(VersionedTable.readLatest(spark, root).columns.toSeq
      === Seq("k", "revenue"))
    // time travel to v1 still reads the PHYSICAL (old) name
    assert(VersionedTable.readVersion(spark, root, 1).columns.toSeq
      === Seq("k", "amount"))
    // a post-rename append under the new name unifies across eras
    VersionedTable.append(spark, root, Seq((3L, 30L)).toDF("k", "revenue"))
    val uni = VersionedTable.readLatest(spark, root, mergeSchema = true)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(uni.toSeq === Seq((1L, 10L), (2L, 20L), (3L, 30L)))
    // chain of two renames folds oldest-first
    VersionedTable.renameColumn(spark, root, "revenue", "rev_cents")
    assert(VersionedTable.readLatest(spark, root, mergeSchema = true)
      .columns.toSeq === Seq("k", "rev_cents"))
    // validation: missing source, existing target, self-rename
    intercept[IllegalArgumentException](
      VersionedTable.renameColumn(spark, root, "nope", "x"))
    intercept[IllegalArgumentException](
      VersionedTable.renameColumn(spark, root, "k", "rev_cents"))
    intercept[IllegalArgumentException](
      VersionedTable.renameColumn(spark, root, "k", "k"))
    // vacuum to the latest version only: the rename manifests are
    // pinned (mapping survives), old data dirs still coalesce
    VersionedTable.append(spark, root, Seq((4L, 40L)).toDF("k", "rev_cents"))
    VersionedTable.vacuum(spark, root, 1)
    val after = VersionedTable.readLatest(spark, root, mergeSchema = true)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(after.toSeq === Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L)))
    // compact SETTLES the mapping debt: the rewritten directory's
    // physical schema IS the logical one
    val cm = VersionedTable.compact(spark, root)
    val physical = spark.read
      .parquet(s"$root/${cm.dataDirs.head}").columns.toSeq
    assert(physical === Seq("k", "rev_cents"))
    assert(VersionedTable.readLatest(spark, root).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      === Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L)))
    graft.engine.Caches.releaseAll()
  }

  test("dropColumn: metadata-only, time travel, re-add freshness, " +
      "validations") {
    import spark.implicits._
    val root = freshRoot("drop")
    VersionedTable.create(spark, root,
      Seq((1L, 10L, "a"), (2L, 20L, "b")).toDF("k", "amount", "note"))
    val m = VersionedTable.dropColumn(spark, root, "note")
    assert(m.op === "drop-column" && m.version === 2)
    // metadata-only: same data dirs as the base snapshot
    assert(m.dataDirs === VersionedTable.dataDirsOf(spark, root, 1))
    assert(VersionedTable.readLatest(spark, root).columns.toSeq
      === Seq("k", "amount"))
    assert(VersionedTable.readLatest(spark, root, mergeSchema = true)
      .columns.toSeq === Seq("k", "amount"))
    // time travel to v1 still reads the column and its values
    assert(VersionedTable.readVersion(spark, root, 1).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(2))).toSeq
      === Seq((1L, "a"), (2L, "b")))
    // re-add by append: a FRESH column — pre-drop rows read NULL, the
    // dead bytes never resurface
    VersionedTable.append(spark, root,
      Seq((3L, 30L, "c")).toDF("k", "amount", "note"))
    val re = VersionedTable.readLatest(spark, root, mergeSchema = true)
      .orderBy("k").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(2)) "-" else r.getString(2)))
    assert(re.toSeq === Seq((1L, "-"), (2L, "-"), (3L, "c")))
    // appendStrict enforces the post-drop logical schema
    intercept[IllegalArgumentException](VersionedTable.appendStrict(
      spark, root, Seq((9L, 90L)).toDF("k", "amount")))
    // validations: missing column, last column, partition column,
    // CHECK-constraint reference
    intercept[IllegalArgumentException](
      VersionedTable.dropColumn(spark, root, "nope"))
    val solo = freshRoot("drop_solo")
    VersionedTable.create(spark, solo, Seq(1L).toDF("k"))
    intercept[IllegalArgumentException](
      VersionedTable.dropColumn(spark, solo, "k"))
    val part = freshRoot("drop_partcol")
    VersionedTable.create(spark, part,
      Seq((1L, "p1"), (2L, "p2")).toDF("k", "p"), partitionCols = Seq("p"))
    intercept[IllegalArgumentException](
      VersionedTable.dropColumn(spark, part, "p"))
    val con = freshRoot("drop_con")
    VersionedTable.create(spark, con,
      Seq((1L, 10L)).toDF("k", "amount"))
    VersionedTable.addConstraint(spark, con, "pos", "amount > 0")
    intercept[IllegalArgumentException](
      VersionedTable.dropColumn(spark, con, "amount"))
    graft.engine.Caches.releaseAll()
  }

  test("dropColumn: rename interplay, COW rewrites never resurrect, " +
      "compact and clone materialize, vacuum pins the mapping") {
    import spark.implicits._
    val root = freshRoot("drop_rw")
    VersionedTable.create(spark, root,
      Seq((1L, 10L, "x"), (2L, 20L, "y")).toDF("k", "amount", "note"))
    VersionedTable.renameColumn(spark, root, "note", "comment") // v2
    VersionedTable.dropColumn(spark, root, "comment")           // v3
    assert(VersionedTable.readLatest(spark, root).columns.toSeq
      === Seq("k", "amount"))
    // pre-drop version reads the LOGICAL renamed column with its values
    assert(VersionedTable.readVersion(spark, root, 2).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(2))).toSeq
      === Seq((1L, "x"), (2L, "y")))
    // a COW rewrite moves old bytes under a new directory name — the
    // dead column must not ride along (neither physical source)
    VersionedTable.deleteWhere(spark, root, col("k") === 2L)   // v4
    assert(VersionedTable.readLatest(spark, root, mergeSchema = true)
      .columns.toSeq === Seq("k", "amount"))
    VersionedTable.dataDirsOf(spark, root,
        VersionedTable.latestVersion(spark, root)).foreach { d =>
      val phys = spark.read.parquet(s"$root/$d").columns.toSet
      assert(!phys.contains("note") && !phys.contains("comment"))
    }
    // re-add under the logical name, then rewrite BOTH eras into one
    // directory: fresh values survive, dead era stays null
    VersionedTable.append(spark, root,
      Seq((3L, 30L, "fresh")).toDF("k", "amount", "comment")) // v5
    VersionedTable.compactWhere(spark, root,
      maxRows = Some(Long.MaxValue))                          // v6
    val mixed = VersionedTable.readLatest(spark, root, mergeSchema = true)
      .orderBy("k").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(2)) "-" else r.getString(2)))
    assert(mixed.toSeq === Seq((1L, "-"), (3L, "fresh")))
    // compact materializes the narrowed+renamed schema physically
    val cm = VersionedTable.compact(spark, root)
    val physical = spark.read
      .parquet(s"$root/${cm.dataDirs.head}").columns.toSeq
    assert(physical === Seq("k", "amount", "comment"))
    // a mapped clone materializes too: fresh history, no mapping debt
    val dst = freshRoot("drop_clone")
    val clm = VersionedTable.cloneTable(spark, root, dst)
    assert(VersionedTable.readLatest(spark, dst, mergeSchema = true)
      .orderBy("k").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(2)) "-" else r.getString(2)))
      .toSeq === Seq((1L, "-"), (3L, "fresh")))
    assert(spark.read.parquet(s"$dst/${clm.dataDirs.head}")
      .columns.toSet.intersect(Set("note")) === Set.empty)
    // vacuum pins the mapping manifests; the survivors still read right
    VersionedTable.vacuum(spark, root, 1)
    assert(VersionedTable.readLatest(spark, root, mergeSchema = true)
      .orderBy("k").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(2)) "-" else r.getString(2)))
      .toSeq === Seq((1L, "-"), (3L, "fresh")))
    graft.engine.Caches.releaseAll()
  }

  test("generated columns: computed on append, validated when supplied, " +
      "strict omission allowed, existing-column declaration, drop " +
      "interplay") {
    import spark.implicits._
    val root = freshRoot("gen")
    VersionedTable.create(spark, root,
      Seq((1L, 10L), (2L, 20L)).toDF("k", "amount"))
    VersionedTable.addGeneratedColumn(spark, root, "dbl", "amount * 2")
    // append WITHOUT the column: computed
    VersionedTable.append(spark, root, Seq((3L, 30L)).toDF("k", "amount"))
    val got = VersionedTable.readLatest(spark, root, mergeSchema = true)
      .orderBy("k").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(2)) -1L else r.getLong(2)))
    assert(got.toSeq === Seq((1L, -1L), (2L, -1L), (3L, 60L)))
    // appendStrict may omit the generated column
    VersionedTable.appendStrict(spark, root, Seq((4L, 40L)).toDF("k", "amount"))
    // correct manual values pass; wrong ones are rejected untouched
    VersionedTable.append(spark, root,
      Seq((5L, 50L, 100L)).toDF("k", "amount", "dbl"))
    val v = VersionedTable.latestVersion(spark, root)
    intercept[VersionedTable.ConstraintViolationException](
      VersionedTable.append(spark, root,
        Seq((6L, 60L, 999L)).toDF("k", "amount", "dbl")))
    assert(VersionedTable.latestVersion(spark, root) === v)
    // NULL-supplied rows pass (the CHECK null convention)
    VersionedTable.append(spark, root,
      Seq((7L, 70L, Option.empty[Long])).toDF("k", "amount", "dbl"))
    // declaring generation for an EXISTING column validates the rows
    intercept[VersionedTable.ConstraintViolationException](
      VersionedTable.addGeneratedColumn(spark, root, "amount", "k * 1000"))
    // dropping an INPUT is rejected; dropping the generated column
    // retires its declaration (a re-add is plain data again)
    intercept[IllegalArgumentException](
      VersionedTable.dropColumn(spark, root, "amount"))
    VersionedTable.dropColumn(spark, root, "dbl")
    assert(VersionedTable.tableGeneratedColumns(spark, root).count() === 0)
    VersionedTable.append(spark, root,
      Seq((8L, 80L, 5L)).toDF("k", "amount", "dbl")) // no longer gated
    val re = VersionedTable.readLatest(spark, root, mergeSchema = true)
      .filter(col("k") === 8L).collect().head
    assert(re.getLong(re.fieldIndex("dbl")) === 5L)
    graft.engine.Caches.releaseAll()
  }

  test("dropColumn: upsert, merge and clustered/bucketed OPTIMIZE " +
      "rewrites never resurrect dead values") {
    import spark.implicits._
    def fresh(name: String): String = {
      val root = freshRoot(name)
      VersionedTable.create(spark, root,
        Seq((1L, 10L, "x"), (2L, 20L, "y")).toDF("k", "amount", "note"))
      VersionedTable.dropColumn(spark, root, "note")
      root
    }
    def noNote(root: String): Unit = {
      assert(!VersionedTable.readLatest(spark, root, mergeSchema = true)
        .columns.contains("note"))
      VersionedTable.dataDirsOf(spark, root,
          VersionedTable.latestVersion(spark, root)).foreach { d =>
        assert(!spark.read.parquet(s"$root/$d").columns.contains("note"))
      }
    }
    // upsert rewrites the dirty dir under a fresh name
    val up = fresh("drop_upsert")
    VersionedTable.upsert(spark, up,
      Seq((1L, 11L)).toDF("k", "amount"), Seq("k"))
    noNote(up)
    assert(VersionedTable.readLatest(spark, up, mergeSchema = true)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSeq === Seq((1L, 11L), (2L, 20L)))
    // merge (update + insert clauses) through the same rewrite path
    val mg = fresh("drop_merge")
    VersionedTable.merge(spark, mg,
      Seq((2L, 22L), (3L, 30L)).toDF("k", "amount"), Seq("k"),
      updateWhen = Some(org.apache.spark.sql.functions.lit(true)))
    noNote(mg)
    // clustered + bucketed OPTIMIZE rewrite the WHOLE snapshot
    val oc = fresh("drop_optc")
    VersionedTable.optimizeClustered(spark, oc, "amount", k = 2,
      tieCol = "k")
    noNote(oc)
    val ob = fresh("drop_optb")
    VersionedTable.optimizeBucketed(spark, ob, "k", nBuckets = 2)
    assert(!VersionedTable.readLatest(spark, ob, mergeSchema = true)
      .columns.contains("note"))
    graft.engine.Caches.releaseAll()
  }

  test("dropColumn on a partitioned multi-directory table masks per era") {
    import spark.implicits._
    val root = freshRoot("drop_part")
    VersionedTable.create(spark, root,
      Seq((1L, 5L, "p1"), (2L, 6L, "p2")).toDF("k", "v", "p"),
      partitionCols = Seq("p"))
    VersionedTable.append(spark, root,
      Seq((3L, 7L, "p1")).toDF("k", "v", "p"))
    VersionedTable.dropColumn(spark, root, "v")
    assert(VersionedTable.readLatest(spark, root, mergeSchema = true)
      .columns.toSet === Set("k", "p"))
    // re-add: only the new era carries values
    VersionedTable.append(spark, root,
      Seq((4L, 8L, "p2")).toDF("k", "v", "p"))
    val out = VersionedTable.readLatest(spark, root, mergeSchema = true)
      .orderBy("k").collect()
      .map { r =>
        val vi = r.fieldIndex("v")
        (r.getLong(r.fieldIndex("k")),
          if (r.isNullAt(vi)) -1L else r.getLong(vi))
      }
    assert(out.toSeq === Seq((1L, -1L), (2L, -1L), (3L, -1L), (4L, 8L)))
    graft.engine.Caches.releaseAll()
  }

  test("drop-aware reads stay era-correct under a d-NNNNNNNN root segment") {
    import spark.implicits._
    // the multi-path single-scan tag derives the era from the file path;
    // an unanchored first-match would grab THIS parent segment for every
    // row, masking would never fire and dropped values would resurface
    // (r17 ADVICE)
    val root = freshRoot("d-12345678/anchor")
    VersionedTable.create(spark, root,
      Seq((1L, "old1"), (2L, "old2")).toDF("k", "note"))
    VersionedTable.append(spark, root, Seq((3L, "old3")).toDF("k", "note"))
    VersionedTable.dropColumn(spark, root, "note")
    VersionedTable.append(spark, root, Seq((4L, "fresh")).toDF("k", "note"))
    val out = VersionedTable.readLatest(spark, root, mergeSchema = true)
      .orderBy("k").collect()
      .map { r =>
        val ni = r.fieldIndex("note")
        (r.getLong(0), if (r.isNullAt(ni)) "-" else r.getString(ni))
      }
    assert(out.toSeq ===
      Seq((1L, "-"), (2L, "-"), (3L, "-"), (4L, "fresh")))
    graft.engine.Caches.releaseAll()
  }

  test("merge updates a re-added column in dead-era directories " +
      "(source-supplied values survive pruning)") {
    import spark.implicits._
    val root = freshRoot("drop_merge_readd")
    VersionedTable.create(spark, root,
      Seq((1L, 10L, "x"), (2L, 20L, "y")).toDF("k", "amount", "note"))
    VersionedTable.dropColumn(spark, root, "note")
    // source supplies note for an UPDATE (k=1, dead-era dir) and an
    // INSERT (k=3): both must land; the untouched row stays masked null
    VersionedTable.merge(spark, root,
      Seq((1L, 11L, "nu"), (3L, 30L, "ni")).toDF("k", "amount", "note"),
      Seq("k"))
    val out = VersionedTable.readLatest(spark, root, mergeSchema = true)
      .orderBy("k").collect()
      .map { r =>
        val ni = r.fieldIndex("note")
        (r.getLong(r.fieldIndex("k")), r.getLong(r.fieldIndex("amount")),
          if (r.isNullAt(ni)) "-" else r.getString(ni))
      }
    assert(out.toSeq ===
      Seq((1L, 11L, "nu"), (2L, 20L, "-"), (3L, 30L, "ni")))
    // delete-only merges still prune: no update clause, no exemption
    val del = freshRoot("drop_merge_delonly")
    VersionedTable.create(spark, del,
      Seq((1L, 10L, "x"), (2L, 20L, "y")).toDF("k", "amount", "note"))
    VersionedTable.dropColumn(spark, del, "note")
    VersionedTable.merge(spark, del,
      Seq((1L, 0L, "zz")).toDF("k", "amount", "note"), Seq("k"),
      updateWhen = None,
      deleteWhen = Some(org.apache.spark.sql.functions.lit(true)),
      insertUnmatched = false)
    assert(!VersionedTable.readLatest(spark, del, mergeSchema = true)
      .columns.contains("note"))
    graft.engine.Caches.releaseAll()
  }

  test("cloneShallow: zero-copy fork, divergence, donor vacuum pins, " +
      "detach releases, clone-of-clone chains") {
    import spark.implicits._
    val src = freshRoot("shallow_src")
    VersionedTable.create(spark, src,
      Seq((1L, 10L), (2L, 20L)).toDF("k", "v"))
    VersionedTable.append(spark, src, Seq((3L, 30L)).toDF("k", "v"))
    val dst = freshRoot("shallow_dst")
    val cm = VersionedTable.cloneShallow(spark, src, dst)
    assert(cm.op === "clone-shallow")
    // ZERO data files under the clone root before any write
    val dfs = new org.apache.hadoop.fs.Path(dst)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!dfs.listStatus(new org.apache.hadoop.fs.Path(dst))
      .exists(st => st.getPath.getName.matches("d-\\d{8}")))
    // the clone reads the donor's rows
    assert(VersionedTable.readLatest(spark, dst).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
      === Seq((1L, 10L), (2L, 20L), (3L, 30L)))
    // divergence: writes on either side stay invisible to the other
    VersionedTable.append(spark, dst, Seq((4L, 40L)).toDF("k", "v"))
    VersionedTable.upsert(spark, dst, Seq((1L, 11L)).toDF("k", "v"),
      Seq("k"))
    VersionedTable.append(spark, src, Seq((9L, 90L)).toDF("k", "v"))
    assert(VersionedTable.readLatest(spark, dst).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
      === Seq((1L, 11L), (2L, 20L), (3L, 30L), (4L, 40L)))
    assert(VersionedTable.readLatest(spark, src).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
      === Seq((1L, 10L), (2L, 20L), (3L, 30L), (9L, 90L)))
    // donor vacuum PINS borrowed dirs: rewrite everything donor-side,
    // vacuum to 1 — the clone must still read its fork snapshot
    VersionedTable.compact(spark, src)
    VersionedTable.vacuum(spark, src, 1)
    assert(VersionedTable.readLatest(spark, dst).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
      === Seq((1L, 11L), (2L, 20L), (3L, 30L), (4L, 40L)))
    // clone-of-clone resolves through the chain
    val dst2 = freshRoot("shallow_dst2")
    VersionedTable.cloneShallow(spark, dst, dst2)
    assert(VersionedTable.readLatest(spark, dst2).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
      === Seq((1L, 11L), (2L, 20L), (3L, 30L), (4L, 40L)))
    // detach + vacuum reclaims what only the clone pinned
    assert(VersionedTable.detachClone(spark, src, dst))
    assert(!VersionedTable.detachClone(spark, src, dst))
    val swept = VersionedTable.vacuum(spark, src, 1)
    assert(swept.nonEmpty) // the borrowed pre-compact dirs go now
    graft.engine.Caches.releaseAll()
  }

  test("cloneShallow carries mapping chains and constraints; deep clone " +
      "of widened/shallow sources materializes") {
    import spark.implicits._
    val src = freshRoot("shallow_map_src")
    VersionedTable.create(spark, src,
      Seq((1, 10), (2, 20)).toDF("k", "amount"))
    VersionedTable.renameColumn(spark, src, "amount", "cents")
    VersionedTable.widenColumn(spark, src, "cents", "bigint")
    VersionedTable.addConstraint(spark, src, "k_pos", "k > 0")
    val dst = freshRoot("shallow_map_dst")
    VersionedTable.cloneShallow(spark, src, dst)
    val got = VersionedTable.readLatest(spark, dst, mergeSchema = true)
    assert(got.schema("cents").dataType ===
      org.apache.spark.sql.types.LongType)
    assert(got.orderBy("k").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSeq
      === Seq((1, 10L), (2, 20L)))
    // the carried CHECK constraint gates clone appends
    intercept[VersionedTable.ConstraintViolationException](
      VersionedTable.append(spark, dst,
        Seq((-5, 50L)).toDF("k", "cents")))
    // deep clone of a WIDENED source materializes the wide type
    val deep = freshRoot("deep_of_widened")
    val dm = VersionedTable.cloneTable(spark, src, deep)
    val phys = spark.read.parquet(s"$deep/${dm.dataDirs.head}").schema
    assert(phys("cents").dataType ===
      org.apache.spark.sql.types.LongType)
    // deep clone of a SHALLOW clone materializes (no cross-root chain)
    val deep2 = freshRoot("deep_of_shallow")
    VersionedTable.cloneTable(spark, dst, deep2)
    assert(VersionedTable.readLatest(spark, deep2).orderBy("k").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSeq
      === Seq((1, 10L), (2, 20L)))
    graft.engine.Caches.releaseAll()
  }

  test("dropColumn kills rename-era bytes carried by a COW rewrite; " +
      "a re-add append stops the extension (reuse stays live)") {
    import spark.implicits._
    // rename → merge (the rewrite copies `amount` bytes with VALUES
    // into a fresh dir) → drop: the dropped values must not resurface
    // (measured leak before the r18 dropChain carry extension)
    val root = freshRoot("ren_carry_drop")
    VersionedTable.create(spark, root,
      Seq((1, 10L), (9, 90L)).toDF("k", "amount"))
    VersionedTable.renameColumn(spark, root, "amount", "cents")
    VersionedTable.append(spark, root, Seq((2, 20L)).toDF("k", "cents"))
    VersionedTable.merge(spark, root,
      Seq((1, 99L)).toDF("k", "other"), Seq("k"))
    // the rewrite dir really does carry the physical old name + values
    assert(VersionedTable.dataDirsOf(spark, root,
      VersionedTable.latestVersion(spark, root)).exists(d =>
      spark.read.parquet(s"$root/$d").columns.contains("amount")))
    VersionedTable.dropColumn(spark, root, "cents")
    val post = VersionedTable.readLatest(spark, root, mergeSchema = true)
    assert(post.columns.toSeq === Seq("k"))
    // reuse after the rename stays live: an APPEND re-adding the old
    // physical name stops the carry extension, so a LATER rewrite's
    // carried copy of the re-added values survives the drop of the new
    // logical name (the fold then reads them through the rename chain)
    val ru = freshRoot("ren_reuse_drop")
    VersionedTable.create(spark, ru, Seq((1, 10L)).toDF("k", "amount"))
    VersionedTable.renameColumn(spark, ru, "amount", "cents")
    VersionedTable.append(spark, ru,
      Seq((2, 8L, 20L)).toDF("k", "amount", "cents")) // re-add amount
    VersionedTable.upsert(spark, ru,
      Seq((3, 30L)).toDF("k", "cents"), Seq("k")) // pure insert, no carry
    VersionedTable.dropColumn(spark, ru, "cents")
    val rud = VersionedTable.readLatest(spark, ru, mergeSchema = true)
    // the reused amount is LIVE in its post-reuse dir (k=2 keeps 8,
    // read through the rename fold); the pre-rename era stays dead
    val vals = rud.orderBy("k").collect().map { r =>
      val ci = r.fieldIndex("cents")
      (r.getInt(0), if (r.isNullAt(ci)) -1L else r.getLong(ci))
    }
    assert(vals.toSeq === Seq((1, -1L), (2, 8L), (3, -1L)))
    graft.engine.Caches.releaseAll()
  }

  test("widenColumn: metadata-only promotion, mixed-era reads upcast, " +
      "appends accepted in either width, compact materializes") {
    import spark.implicits._
    val root = freshRoot("widen")
    VersionedTable.create(spark, root,
      Seq((1, 10), (2, 20)).toDF("k", "v"))                 // int, int
    VersionedTable.widenColumn(spark, root, "v", "bigint")  // v2
    // post-widen appends in EITHER width land
    VersionedTable.append(spark, root,
      Seq((3, 30L)).toDF("k", "v"))                         // wide append
    VersionedTable.append(spark, root,
      Seq((4, 40)).toDF("k", "v"))                          // narrow append
    val df = VersionedTable.readLatest(spark, root)
    assert(df.schema("v").dataType ===
      org.apache.spark.sql.types.LongType)
    assert(df.orderBy("k").collect().map(r => (r.getInt(0), r.getLong(1)))
      .toSeq === Seq((1, 10L), (2, 20L), (3, 30L), (4, 40L)))
    // arithmetic over the mixed eras behaves as bigint
    assert(df.agg(sum(col("v"))).head.getLong(0) === 100L)
    // time travel BEFORE the widen reads the narrow type
    assert(VersionedTable.readVersion(spark, root, 1).schema("v").dataType
      === org.apache.spark.sql.types.IntegerType)
    // compact materializes the wide type physically
    val cm = VersionedTable.compact(spark, root)
    val phys = spark.read.parquet(s"$root/${cm.dataDirs.head}").schema
    assert(phys("v").dataType === org.apache.spark.sql.types.LongType)
    // validation: narrowing / sideways / unknown targets are rejected
    intercept[IllegalArgumentException](
      VersionedTable.widenColumn(spark, root, "v", "int"))
    intercept[IllegalArgumentException](
      VersionedTable.widenColumn(spark, root, "v", "double"))
    intercept[IllegalArgumentException](
      VersionedTable.widenColumn(spark, root, "nope", "bigint"))
    // float -> double on a second column
    val fr = freshRoot("widen_f")
    VersionedTable.create(spark, fr,
      Seq((1, 1.5f), (2, 2.5f)).toDF("k", "x"))
    VersionedTable.widenColumn(spark, fr, "x", "double")
    VersionedTable.append(spark, fr, Seq((3, 3.5d)).toDF("k", "x"))
    val fd = VersionedTable.readLatest(spark, fr)
    assert(fd.schema("x").dataType ===
      org.apache.spark.sql.types.DoubleType)
    assert(fd.agg(sum(col("x"))).head.getDouble(0) === 7.5d)
    graft.engine.Caches.releaseAll()
  }

  test("widenColumn: rename/drop interplay, COW rewrite over mixed " +
      "widths, vacuum pins the widen manifest") {
    import spark.implicits._
    // rename-then-widen: old dirs hold the pre-rename narrow name
    val root = freshRoot("widen_ren")
    VersionedTable.create(spark, root, Seq((1, 10)).toDF("k", "amount"))
    VersionedTable.renameColumn(spark, root, "amount", "cents")   // v2
    VersionedTable.widenColumn(spark, root, "cents", "bigint")    // v3
    VersionedTable.append(spark, root, Seq((2, 20L)).toDF("k", "cents"))
    val out = VersionedTable.readLatest(spark, root, mergeSchema = true)
    assert(out.schema("cents").dataType ===
      org.apache.spark.sql.types.LongType)
    assert(out.orderBy("k").collect().map(r => (r.getInt(0), r.getLong(1)))
      .toSeq === Seq((1, 10L), (2, 20L)))
    // widen-then-rename keeps reading wide through the new name
    val wr = freshRoot("widen_ren2")
    VersionedTable.create(spark, wr, Seq((1, 10)).toDF("k", "amount"))
    VersionedTable.widenColumn(spark, wr, "amount", "bigint")
    VersionedTable.renameColumn(spark, wr, "amount", "cents")
    VersionedTable.append(spark, wr, Seq((2, 20)).toDF("k", "cents"))
    val out2 = VersionedTable.readLatest(spark, wr, mergeSchema = true)
    assert(out2.schema("cents").dataType ===
      org.apache.spark.sql.types.LongType)
    assert(out2.orderBy("k").collect()
      .map(r => (r.getInt(0), r.getLong(1)))
      .toSeq === Seq((1, 10L), (2, 20L)))
    // COW rewrite (upsert) across mixed widths lands the wide type
    VersionedTable.upsert(spark, root,
      Seq((1, 11L)).toDF("k", "cents"), Seq("k"))
    val up = VersionedTable.readLatest(spark, root, mergeSchema = true)
    assert(up.orderBy("k").collect().map(r => (r.getInt(0), r.getLong(1)))
      .toSeq === Seq((1, 11L), (2, 20L)))
    // widen-then-drop: the column dies, reads stay consistent
    VersionedTable.dropColumn(spark, root, "cents")
    assert(!VersionedTable.readLatest(spark, root, mergeSchema = true)
      .columns.contains("cents"))
    // vacuum pins the widen manifest: deep-history reads still upcast
    val vr = freshRoot("widen_vac")
    VersionedTable.create(spark, vr, Seq((1, 10)).toDF("k", "v"))
    VersionedTable.widenColumn(spark, vr, "v", "bigint")
    (2 to 6).foreach(i =>
      VersionedTable.append(spark, vr, Seq((i, i * 10)).toDF("k", "v")))
    VersionedTable.vacuum(spark, vr, 2)
    val vv = VersionedTable.readLatest(spark, vr)
    assert(vv.schema("v").dataType ===
      org.apache.spark.sql.types.LongType)
    assert(vv.agg(sum(col("v"))).head.getLong(0) === 210L)
    graft.engine.Caches.releaseAll()
  }

  test("copy-on-write kernel: one dirty directory rewritten, the rest " +
      "carried by name, tombstone kept iff its scope survives, no dropped " +
      "value back, latest equals the model") {
    import spark.implicits._
    import org.apache.hadoop.fs.{FileUtil, Path}
    val conf = spark.sparkContext.hadoopConfiguration
    // d1 k 1..10, a tombstone {3, 13, 23} scoped to d1 alone (only 3
    // dies), d2 k 11..20, `note` dropped (dead in d1 and d2), d3 k 21..30
    def rows(ks: Range) =
      ks.map(k => (k.toLong, k * 10L, s"n$k")).toDF("k", "v", "note")
    val fixture = freshRoot("kernel_fixture")
    VersionedTable.create(spark, fixture, rows(1 to 10))
    val tombs = VersionedTable.deleteKeysMor(spark, fixture,
      Seq(3L, 13L, 23L).toDF("k")).deleteDirs
    VersionedTable.append(spark, fixture, rows(11 to 20))
    VersionedTable.dropColumn(spark, fixture, "note")
    VersionedTable.append(spark, fixture, rows(21 to 30).drop("note"))
    val base = VersionedTable.dataDirsOf(spark, fixture)
    assert(base.size === 3 && tombs.size === 1)
    val model0 = (1L to 30L).filterNot(_ == 3L).map(k => k -> k * 10L).toMap

    // (op, run on `root` dirtying the directory holding key `kk`, the
    // model after it, whether it rewrites a lone tombstone-free dir)
    type Op = (String, (String, Long) => VersionedTable.Manifest,
      (Map[Long, Long], Long) => Map[Long, Long], Boolean)
    val ops: Seq[Op] = Seq(
      ("deleteWhere", (r, kk) => VersionedTable.deleteWhere(spark, r,
        col("k") === kk), (m, kk) => m - kk, true),
      ("replaceWhere", (r, kk) => VersionedTable.replaceWhere(spark, r,
        Seq((kk, -kk)).toDF("k", "v"), col("k") === kk),
        (m, kk) => m + (kk -> -kk), true),
      ("upsert", (r, kk) => VersionedTable.upsert(spark, r,
        Seq((kk, 1000 + kk), (100 + kk, 1L)).toDF("k", "v"), Seq("k")),
        (m, kk) => m + (kk -> (1000 + kk)) + ((100 + kk) -> 1L), true),
      ("merge", (r, kk) => VersionedTable.merge(spark, r,
        Seq((kk, 2000 + kk), (200 + kk, 2L)).toDF("k", "v"), Seq("k")),
        (m, kk) => m + (kk -> (2000 + kk)) + ((200 + kk) -> 2L), true),
      // one qualifying dir with no tombstone to fold is a no-op
      ("compactWhere", (r, kk) => VersionedTable.compactWhere(spark, r,
        where = Some(col("k") === kk)), (m, _) => m, false))
    for ((name, run, model, rewritesLone) <- ops;
         (target, kk) <- base.zip(Seq(5L, 15L, 25L))) {
      val what = s"$name dirtying $target"
      val root = freshRoot(s"kernel_$name")
      val fs = new Path(root).getFileSystem(conf)
      FileUtil.copy(fs, new Path(fixture), fs, new Path(root), false, conf)
      val m = run(root, kk)
      assert(m.dataDirs === VersionedTable.dataDirsOf(spark, root), what)
      val rewritten = rewritesLone || target == base.head
      assert(base.filterNot(_ == target).forall(m.dataDirs.contains),
        s"$what: untouched dirs must carry over by name: ${m.dataDirs}")
      assert(m.dataDirs.contains(target) === !rewritten, s"$what: ${m.dataDirs}")
      assert(m.dataDirs.size === 3, s"$what: one new directory: ${m.dataDirs}")
      assert(m.deleteDirs === (if (m.dataDirs.contains(base.head)) tombs
        else Nil), s"$what: the tombstone stays iff d1 survives")
      val latest = VersionedTable.readLatest(spark, root, mergeSchema = true)
      assert(!latest.columns.contains("note"), s"$what: ${latest.columns}")
      m.dataDirs.filterNot(base.contains).foreach { d =>
        assert(!spark.read.parquet(s"$root/$d").columns.contains("note"),
          s"$what: dropped values rewritten into $d")
      }
      val got = latest.select("k", "v").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === model(model0, kk), what)
    }
    graft.engine.Caches.releaseAll()
  }

  test("upsert, merge and applyChanges release every cache they take") {
    import spark.implicits._
    val cacheManager = spark
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    spark.catalog.clearCache()
    graft.engine.Caches.releaseAll()
    val root = freshRoot("op_scoped_caches")
    VersionedTable.create(spark, root, Seq((1L, 10L), (2L, 20L)).toDF("k", "v"))
    VersionedTable.append(spark, root, Seq((3L, 30L)).toDF("k", "v"))
    def leavesNoCache(op: String)(run: => Unit): Unit = {
      val before = graft.engine.Caches.liveCount
      run
      assert(graft.engine.Caches.liveCount === before,
        s"$op left a Caches registration")
      assert(cacheManager.isEmpty, s"$op left a CacheManager entry")
    }
    leavesNoCache("upsert")(VersionedTable.upsert(spark, root,
      Seq((2L, 21L), (4L, 40L)).toDF("k", "v"), Seq("k")))
    leavesNoCache("merge")(VersionedTable.merge(spark, root,
      Seq((3L, 31L), (5L, 50L)).toDF("k", "v"), Seq("k")))
    val replica = freshRoot("op_scoped_caches_replica")
    VersionedTable.create(spark, replica, VersionedTable.readVersion(spark, root, 1))
    val (delta, _) = VersionedTable.changesSince(spark, root, 1)
    leavesNoCache("applyChanges")(
      VersionedTable.applyChanges(spark, replica, delta))
    def contents(r: String) = VersionedTable.readLatest(spark, r)
      .orderBy("k").collect().map(x => (x.getLong(0), x.getLong(1))).toSeq
    assert(contents(replica) === contents(root))
    assert(contents(root) === Seq((1L, 10L), (2L, 21L), (3L, 31L), (4L, 40L),
      (5L, 50L)))
    // a frame the caller cached stays cached
    val src = Seq((1L, 11L)).toDF("k", "v").cache()
    VersionedTable.merge(spark, root, src, Seq("k"))
    assert(src.storageLevel !== org.apache.spark.storage.StorageLevel.NONE)
    src.unpersist()
    graft.engine.Caches.releaseAll()
  }

  test("replaceWhere after drop + re-add: survivors and batch union by name") {
    import spark.implicits._
    val root = freshRoot("replace_where_readd")
    VersionedTable.create(spark, root,
      Seq((1L, 10L, "a"), (2L, 20L, "b")).toDF("k", "v", "note"))
    VersionedTable.dropColumn(spark, root, "note")
    // the re-add: an append carrying the dropped name again
    VersionedTable.append(spark, root,
      Seq((3L, 30L, "c"), (4L, 40L, "d")).toDF("k", "v", "note"))
    // k = 1 sits in the pre-drop directory, whose survivors are pruned
    // to (k, v); the batch carries note
    VersionedTable.replaceWhere(spark, root,
      Seq((1L, 11L, "a2")).toDF("k", "v", "note"), col("k") === 1L)
    // k = 3 sits in the re-add directory, whose survivors carry note;
    // the batch does not
    VersionedTable.replaceWhere(spark, root,
      Seq((3L, 33L)).toDF("k", "v"), col("k") === 3L)
    val model = Seq((1L, 11L, Some("a2")), (2L, 20L, None),
      (3L, 33L, None), (4L, 40L, Some("d")))
    val got = VersionedTable.readLatest(spark, root, mergeSchema = true)
      .select("k", "v", "note").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.getString(2)))).toSeq
    assert(got === model)
  }

  test("generated columns are computed on every append entry point") {
    import spark.implicits._
    val root = freshRoot("gen_every_append")
    VersionedTable.createWithIdentity(spark, root,
      Seq((1L, 5L)).toDF("k", "v"), "rid", "k")
    VersionedTable.addGeneratedColumn(spark, root, "dbl", "v * 2")
    VersionedTable.appendAudited(spark, root, Seq((2L, 6L)).toDF("k", "v"),
      rowRules = Seq("v_positive" -> (col("v") > 0)))
    VersionedTable.appendWithIdentity(spark, root,
      Seq((3L, 7L)).toDF("k", "v"), "rid", "k")
    VersionedTable.createBranch(spark, root, "b")
    VersionedTable.appendToBranch(spark, root, "b",
      Seq((4L, 8L)).toDF("k", "v"))
    def dbl(df: org.apache.spark.sql.DataFrame): Seq[(Long, Option[Long])] =
      df.select(col("k"), col("dbl").cast("long")).orderBy("k").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
        .toSeq
    // k = 1 predates the declaration
    val main = Seq(1L -> None, 2L -> Some(12L), 3L -> Some(14L))
    assert(dbl(VersionedTable.readLatest(spark, root, mergeSchema = true)) ===
      main)
    assert(dbl(VersionedTable.readBranch(spark, root, "b",
      mergeSchema = true)) === main :+ (4L -> Some(16L)))
  }

  test("every entry point lists _log at most once and reads a manifest once") {
    import spark.implicits._
    CountingFileSystem.register(spark.sparkContext.hadoopConfiguration)
    val local = new org.apache.hadoop.fs.Path(freshRoot("counted")).toUri.getPath
    val root = s"${CountingFileSystem.Scheme}://$local"
    val logDir = s"$local/_log"
    val manifest = (java.util.regex.Pattern.quote(logDir) + "/\\d{8}\\.json").r
    VersionedTable.create(spark, root, Seq((1L, 10L), (2L, 20L)).toDF("k", "v"))
    VersionedTable.append(spark, root, Seq((3L, 30L)).toDF("k", "v"), "batch-1")
    VersionedTable.append(spark, root, Seq((4L, 40L)).toDF("k", "v"))
    VersionedTable.append(spark, root, Seq((5L, 50L)).toDF("k", "v"))
    // (op, _log listings, manifests opened more than once) of each op
    // breaking the rule
    val broken = Seq.newBuilder[(String, Int, Map[String, Int])]
    def counted(op: String, readsOnce: Boolean)(body: => Any): Unit = {
      val (_, listed, opened) = CountingFileSystem.during(body)
      val listings = listed.count(_ == logDir)
      val twice = if (!readsOnce) Map.empty[String, Int]
        else opened.filter(manifest.matches).groupBy(identity)
          .collect { case (p, n) if n.size > 1 => p.stripPrefix(local) -> n.size }
      if (listings > 1 || twice.nonEmpty) broken += ((op, listings, twice))
    }
    val now = java.time.Instant.now()
    counted("history", readsOnce = true)(
      VersionedTable.history(spark, root).collect())
    counted("versionAsOf", readsOnce = true)(
      VersionedTable.versionAsOf(spark, root, now))
    counted("readAsOf", readsOnce = false)(
      VersionedTable.readAsOf(spark, root, now).collect())
    counted("appendIfAbsent (tag hit)", readsOnce = true)(
      VersionedTable.appendIfAbsent(spark, root,
        Seq((3L, 30L)).toDF("k", "v"), "batch-1"))
    counted("dataDirsOf", readsOnce = false)(
      VersionedTable.dataDirsOf(spark, root))
    counted("pruneDirs", readsOnce = false)(
      VersionedTable.pruneDirs(spark, root, "k", 2L, 3L))
    counted("pruneDirsBox", readsOnce = false)(
      VersionedTable.pruneDirsBox(spark, root, "k", 2L, 3L, "v", 0L, 99L))
    counted("readWhereBetween", readsOnce = true)(
      VersionedTable.readWhereBetween(spark, root, "k", 2L, 3L).collect())
    counted("readWhereBox", readsOnce = true)(
      VersionedTable.readWhereBox(spark, root, "k", 2L, 3L, "v", 0L, 99L)
        .collect())
    counted("metadataCount", readsOnce = true)(
      VersionedTable.metadataCount(spark, root))
    counted("tableStats", readsOnce = false)(
      VersionedTable.tableStats(spark, root).collect())
    counted("tagVersion", readsOnce = false)(
      VersionedTable.tagVersion(spark, root, "t2", 2))
    counted("createBranch", readsOnce = false)(
      VersionedTable.createBranch(spark, root, "b"))
    counted("append", readsOnce = false)(
      VersionedTable.append(spark, root, Seq((6L, 60L)).toDF("k", "v")))
    counted("upsert", readsOnce = false)(
      VersionedTable.upsert(spark, root, Seq((6L, 61L)).toDF("k", "v"), Seq("k")))
    counted("deleteWhere", readsOnce = false)(
      VersionedTable.deleteWhere(spark, root, col("k") === 1L))
    counted("vacuum", readsOnce = true)(
      VersionedTable.vacuum(spark, root, keepVersions = 2))
    counted("vacuumExpiredBefore", readsOnce = false)(
      VersionedTable.vacuumExpiredBefore(spark, root, java.time.Instant.now()))
    assert(broken.result().isEmpty)
    assert(VersionedTable.readLatest(spark, root).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((2L, 20L), (3L, 30L), (4L, 40L), (5L, 50L), (6L, 61L)))
    // a shallow clone reads borrowed directories through its donor
    // chain: each root's `_log/donor` is probed at most once per op,
    // however many directories the op resolves
    val cloneLocal =
      new org.apache.hadoop.fs.Path(freshRoot("counted_clone")).toUri.getPath
    val clone = s"${CountingFileSystem.Scheme}://$cloneLocal"
    VersionedTable.cloneShallow(spark, root, clone)
    VersionedTable.append(spark, clone, Seq((7L, 70L)).toDF("k", "v"))
    VersionedTable.append(spark, clone, Seq((8L, 80L)).toDF("k", "v"))
    assert(VersionedTable.dataDirsOf(spark, clone).size >= 3)
    def donorProbes(body: => Any): Map[String, Int] =
      CountingFileSystem.probedDuring(body).filter(_.endsWith("/_log/donor"))
        .groupBy(identity).map { case (p, n) => p -> n.size }
    val probes = Seq(
      "readLatest" -> donorProbes(VersionedTable.readLatest(spark, clone).collect()),
      "compact" -> donorProbes(VersionedTable.compact(spark, clone)))
    probes.foreach { case (op, byRoot) =>
      assert(byRoot.contains(s"$cloneLocal/_log/donor"), s"$op: $byRoot")
      assert(byRoot.values.forall(_ <= 1), s"$op: $byRoot")
    }
    assert(VersionedTable.readLatest(spark, clone).orderBy("k").collect()
      .map(_.getLong(0)).toSeq === Seq(2L, 3L, 4L, 5L, 6L, 7L, 8L))
  }

  test("changes, changesSince and versionDrift list _log once and read a manifest once") {
    import spark.implicits._
    CountingFileSystem.register(spark.sparkContext.hadoopConfiguration)
    val local = new org.apache.hadoop.fs.Path(freshRoot("counted_cdf")).toUri.getPath
    val root = s"${CountingFileSystem.Scheme}://$local"
    val logDir = s"$local/_log"
    val manifest = (java.util.regex.Pattern.quote(logDir) + "/\\d{8}\\.json").r
    VersionedTable.create(spark, root, Seq((1L, 10L), (2L, 20L)).toDF("k", "v"))
    VersionedTable.renameColumn(spark, root, "v", "w")
    VersionedTable.append(spark, root, Seq((3L, 30L)).toDF("k", "w"))
    VersionedTable.upsert(spark, root, Seq((1L, 11L)).toDF("k", "w"), Seq("k"))
    // op -> (_log listings, manifests opened more than once)
    def counted(body: => Any): (Int, Map[String, Int]) = {
      val (_, listed, opened) = CountingFileSystem.during(body)
      (listed.count(_ == logDir), opened.filter(manifest.matches).groupBy(identity)
        .collect { case (p, n) if n.size > 1 => p.stripPrefix(local) -> n.size })
    }
    val reads = Map(
      "changes" -> counted(VersionedTable.changes(spark, root, 1, 4).collect()),
      "changesSince" -> counted(VersionedTable.changesSince(spark, root, 2)._1.collect()),
      "changesSince (caught up)" ->
        counted(VersionedTable.changesSince(spark, root, 4)._1.collect()),
      "versionDrift" -> counted(
        VersionedTable.versionDrift(spark, root, "w", 2, 4, nBins = 2).collect()))
    assert(reads.filter { case (_, (n, twice)) => n > 1 || twice.nonEmpty }.isEmpty,
      reads)
    val (delta, cursor) = VersionedTable.changesSince(spark, root, 2)
    assert(cursor === 4)
    assert(delta.select("k", "w", "_change").as[(Long, Long, String)].collect().toSet ===
      Set((1L, 10L, "delete"), (1L, 11L, "insert"), (3L, 30L, "insert")))
  }
}
