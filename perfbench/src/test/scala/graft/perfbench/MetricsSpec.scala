package graft.perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

class MetricsSpec extends AnyFunSuite {

  private lazy val spec: JsonNode = {
    val p = Seq(Paths.get("BENCHMARK.json"), Paths.get("..", "BENCHMARK.json")).find(Files.exists(_))
      .getOrElse(fail("BENCHMARK.json not found"))
    new ObjectMapper().readTree(p.toFile)
  }

  private def named(key: String): Seq[(String, String)] =
    spec.get(key).elements().asScala.map(m => m.get("name").asText() -> m.get("unit").asText()).toSeq

  test("BENCHMARK.json names every reported metric with the same unit") {
    assert(named("end_to_end") == Metrics.endToEnd)
    assert(named("per_layer") == Metrics.perLayer)
    for ((n, u) <- Metrics.endToEnd ++ Metrics.perLayer) assert(u.nonEmpty, n)
  }

  test("BENCHMARK.json lists exactly the workloads the benchmark runs") {
    val names = spec.get("workloads").elements().asScala.map(_.get("name").asText()).toSeq
    assert(names == Workload.all.map(_.name))
  }

  test("every end-to-end metric has a bound of at most 0.25") {
    for (m <- spec.get("end_to_end").elements().asScala)
      assert(m.get("bound").asDouble() > 0 && m.get("bound").asDouble() <= 0.25, m)
  }
}
