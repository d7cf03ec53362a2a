package perfbench

import java.nio.file.Paths

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

class CatalogSpec extends AnyFunSuite {
  // tests run with the benchmark's directory as working directory
  private val json = Json.read(Paths.get("..", "BENCHMARK.json"))

  private def entries(key: String) = json.get(key).elements().asScala.toSeq

  test("BENCHMARK.json lists exactly the catalog's metrics, units, directions and bounds") {
    val e2e = entries("end_to_end").map { n =>
      (n.get("name").asText, n.get("unit").asText, n.get("better").asText, Some(n.get("bound").asDouble))
    }
    assert(e2e == Catalog.endToEnd.map(m => (m.name, m.unit, m.better, m.bound)))
    val layer = entries("per_layer").map { n =>
      (n.get("name").asText, n.get("unit").asText, n.get("better").asText)
    }
    assert(layer == Catalog.perLayer.map(m => (m.name, m.unit, m.better)))
  }

  test("every name and unit is valid and every name is used once") {
    val names = Catalog.all.map(_.name) ++ entries("workloads").map(_.get("name").asText)
    names.foreach(n => assert(Catalog.validName(n), n))
    assert(names.distinct.length == names.length)
    Catalog.all.foreach(m => assert(Catalog.validUnit(m.unit), m.unit))
    Catalog.all.foreach(m => assert(Set("higher", "lower")(m.better), m.name))
  }

  test("bounds stay within a quarter and set-up time has the largest") {
    val bounds = Catalog.endToEnd.flatMap(_.bound)
    assert(bounds.forall(b => b > 0 && b <= 0.25))
    assert(Catalog.endToEnd.find(_.name == "setup_s").flatMap(_.bound).contains(bounds.max))
  }

  test("a metric prints with its value, unit and direction") {
    Catalog.all.foreach { m =>
      val line = Catalog.render(m, 1.5)
      assert(line.startsWith(m.name) && line.contains("1.5000") && line.contains(m.unit) &&
        line.contains(s"${m.better} is better"), line)
    }
  }
}
