package graftbench

import java.nio.file.{Files, Paths}

import org.json4s._
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.funsuite.AnyFunSuite

/** Every workload and metric name the benchmark prints matches BENCHMARK.json. */
class NamesSpec extends AnyFunSuite {
  private val spec = parse(new String(Files.readAllBytes(Paths.get("..", "BENCHMARK.json")), "UTF-8"))

  private def entries(key: String): Seq[(String, String)] =
    (spec \ key).children.map(m =>
      ((m \ "name").asInstanceOf[JString].s, (m \ "unit").asInstanceOf[JString].s))

  test("workloads") {
    val names = (spec \ "workloads").children.map(w => (w \ "name").asInstanceOf[JString].s)
    assert(names == Workloads.Names)
    val launcher = new String(Files.readAllBytes(Paths.get("run.py")), "UTF-8")
    assert(Workloads.Names.forall(n => launcher.contains("\"" + n + "\"")))
  }

  test("end-to-end metrics") {
    assert(entries("end_to_end") == Main.EndToEnd)
  }

  test("per-layer metrics") {
    assert(entries("per_layer") == Main.PerLayer)
  }
}
