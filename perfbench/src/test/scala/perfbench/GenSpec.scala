package perfbench

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The same seed gives the same inputs; another seed gives other inputs. */
class GenSpec extends AnyFunSuite {
  private def tmp(): File = Files.createTempDirectory("perfbench-gen").toFile
  private def contents(dir: File): Map[String, String] = {
    def files(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files) else Seq(f)
    files(dir).map(f => dir.toPath.relativize(f.toPath).toString ->
      new String(Files.readAllBytes(f.toPath), "UTF-8")).toMap
  }

  private val star = Gen.StarSizes(songs = 50, artists = 5, users = 20,
    events = 2000, paidShare = 0.3, bothLevelsShare = 0.2, unmatchedShare = 0.25,
    otherPageShare = 0.1, days = 3)

  test("star_etl inputs and predicted counts depend only on the seed") {
    val (a, b, c) = (tmp(), tmp(), tmp())
    val ea = Gen.star(a.getPath, 7, star)
    assert(Gen.star(b.getPath, 7, star) == ea)
    assert(contents(a) == contents(b))
    Gen.star(c.getPath, 8, star)
    assert(contents(a) != contents(c))
    assert(ea.songs == 50 && ea.unmatchedPlays > 0 && ea.unmatchedPlays < ea.songplays)
    assert(ea.time < ea.songplays) // some plays share a timestamp
  }

  test("star_etl inputs follow the reference layout") {
    val a = tmp()
    Gen.star(a.getPath, 7, star)
    val names = contents(a).keySet
    val songs = names.filter(_.startsWith("song_data/"))
    assert(songs.size == 50)
    assert(songs.forall(_.matches("song_data/[A-C]/[A-C]/[A-C]/TR[A-C]{3}\\d{7}\\.json")))
    val logs = names.filter(_.startsWith("log_data/"))
    assert(logs.nonEmpty && logs.size <= 4)
    assert(logs.forall(_.matches("log_data/2018/1[12]/2018-1[12]-\\d\\d-events\\.json")))
  }

  private val curate = Gen.CurateSizes(groups = 50, exactDupShare = 0.3,
    nearDupShare = 0.3, junkShare = 0.2)

  test("curation corpus and kept counts depend only on the seed") {
    val (docs, e) = Gen.curation(7, curate)
    assert(Gen.curation(7, curate) == ((docs, e)))
    assert(Gen.curation(8, curate)._1 != docs)
    assert(docs.map(_.doc_id).distinct.size == docs.size)
    assert(e.docs > e.keptGate && e.keptGate > e.keptExact && e.keptExact > e.keptNear)
    assert(e.keptNear == 50) // one survivor per group
  }

  test("table sequence depends only on the seed") {
    val z = Gen.TableSizes(initial = 100, batch = 20)
    val a = Gen.tableOps(7, z)
    assert(Gen.tableOps(7, z) == a)
    assert(Gen.tableOps(8, z) != a)
    assert(a.map(_.kind).count(k => !k.startsWith("read")) == 5)
    assert(a.filter(_.kind == "upsert").head.rows.map(_._1).distinct.size ==
      a.filter(_.kind == "upsert").head.rows.size)
  }
}
