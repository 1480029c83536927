package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The generators and checks that need a session. */
class SparkSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = SparkSession.builder().master("local[2]").appName("perfbench-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        Files.createTempDirectory("perfbench-warehouse").toString)
      .getOrCreate()
    graft.engine.Tables.bootstrap(s)
    s.sparkContext.setLogLevel("WARN")
    s
  }

  test("result fingerprints ignore row order and float noise in the last bits") {
    import spark.implicits._
    val a = Seq((1L, "x", 0.1 + 0.2), (2L, "y", 1.0)).toDF("k", "s", "v")
    val b = Seq((2L, "y", 1.0), (1L, "x", 0.3)).toDF("k", "s", "v").repartition(2)
    val c = Seq((2L, "y", 1.0), (1L, "x", 0.31)).toDF("k", "s", "v")
    assert(RowHash.of(a) == RowHash.of(b))
    assert(RowHash.of(a)._1 == 2)
    assert(RowHash.of(a) != RowHash.of(c))
  }

  test("harness tables depend only on the seed") {
    def tables(seed: Long) = {
      val dir = Files.createTempDirectory("perfbench-tables").toString
      HarnessTables.write(spark, dir, seed, 0.001)
      graft.engine.Tables.names.map(n => RowHash.of(spark.read.parquet(s"$dir/$n.parquet")))
    }
    val a = tables(11)
    assert(tables(11) == a)
    assert(tables(12) != a)
    assert(a.head._1 == 5 && a(1)._1 == 25) // region, nation
  }
}
