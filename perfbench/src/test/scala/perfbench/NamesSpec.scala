package perfbench

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The metric names the harness emits are the ones BENCHMARK.json declares,
  * and every name is valid. */
class NamesSpec extends AnyFunSuite {
  private val valid = "[A-Za-z0-9][A-Za-z0-9_.-]{0,63}"
  private val spec = new String(Files.readAllBytes(Paths.get("..", "BENCHMARK.json")), "UTF-8")
  private def declared(section: String): Seq[String] = {
    val body = spec.substring(spec.indexOf("\"" + section + "\""))
    val list = body.substring(body.indexOf('['), body.indexOf(']') + 1)
    "\"name\"\\s*:\\s*\"([^\"]+)\"".r.findAllMatchIn(list).map(_.group(1)).toSeq
  }

  test("every emitted metric name is valid and used once") {
    val names = Main.PerLayer ++ Main.EndToEnd ++ Workloads.names
    names.foreach(n => assert(n.matches(valid), n))
    assert(Main.PerLayer.distinct.size == Main.PerLayer.size)
  }

  test("the harness emits exactly the metrics BENCHMARK.json declares") {
    assert(declared("end_to_end").toSet == Main.EndToEnd)
    assert(declared("per_layer") == Main.PerLayer)
    assert(declared("workloads") == Workloads.names)
  }

  test("units follow the metric name") {
    assert(Main.unitOf("sched.jobs") == "count")
    assert(Main.unitOf("exec.gc_ms") == "ms")
    assert(Main.unitOf("shuffle.read_bytes") == "bytes")
    assert(Main.unitOf("trace_overhead") == "ratio")
  }
}
