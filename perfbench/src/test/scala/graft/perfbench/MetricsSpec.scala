package graft.perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class MetricsSpec extends AnyFunSuite {

  private val all = Metrics.EndToEnd ++ Metrics.PerLayer

  test("metric names are well formed and unique") {
    all.foreach(m => assert(m.name.matches(Metrics.NamePattern) && m.name.length <= 64, m.name))
    assert(all.map(_.name).distinct.size == all.size)
  }

  test("at most 16 end-to-end and 128 per-layer metrics") {
    assert(Metrics.EndToEnd.size <= 16)
    assert(Metrics.PerLayer.size <= 128)
  }

  test("every metric has a unit and a direction") {
    all.foreach { m =>
      assert(m.unit.matches("[A-Za-z0-9_/%.-]{1,16}"), m)
      assert(Set("lower", "higher").contains(m.better), m)
    }
    assert(Metrics.EndToEnd.exists(m => m.name == "setup_s" && m.unit == "s" && m.better == "lower"))
  }

  test("BENCHMARK.json lists the same workloads and metrics") {
    val json = new ObjectMapper().readTree(new java.io.File("../BENCHMARK.json"))
    def metrics(key: String) = json.get(key).elements().asScala.toSeq
      .map(n => Metrics.Metric(n.get("name").asText, n.get("unit").asText, n.get("better").asText))
    assert(metrics("end_to_end") == Metrics.EndToEnd)
    assert(metrics("per_layer") == Metrics.PerLayer)
    assert(json.get("workloads").elements().asScala.toSeq.map(_.get("name").asText) == Workloads.Names)
    json.get("end_to_end").elements().asScala.foreach(n => assert(n.get("bound").asDouble <= 0.25))
  }
}
