package graftbench

import com.fasterxml.jackson.databind.ObjectMapper

import java.io.File

class TracedRunSpec extends BenchSession {

  for (w <- Workloads.Names) {
    test(s"$w: the traced run reports every per-layer metric of the layers it runs") {
      val fx = Fixtures.obtain(spark, new File(root, "fixtures").getPath, w, 3, Sizes.Tiny)
      val outRoot = new File(root, s"out-$w")
      outRoot.mkdirs()
      val t = Workloads.traced(spark, fx, outRoot.getPath)
      val checks = t.verified.flatMap(_._2.checks)
      assert(checks.nonEmpty && checks.forall(_.ok), checks.filterNot(_.ok))

      val file = Main.writeTrace(new File(root, "trace"), fx, Nil, 0.0, t, checks, t.verified)
      val doc = new ObjectMapper().readTree(file)
      val metrics = doc.get("metrics")
      val expected = Workloads.LayerMetrics.map(_._1)
        .filter(m => Workloads.layersOf(w).contains(Workloads.layerOf(m)))
      assert(expected.nonEmpty)
      expected.foreach { m =>
        val node = metrics.get(m)
        assert(node != null && node.get("value").isNumber, s"$m missing from the $w trace")
      }
      // the layers that run did measurable work
      val runs = expected.filter(m => m.endsWith(".rows_out") || m == "spark.task_attempts" ||
        m == "TileAssembler.tiles_out" || m == "Render.kv_rows" || m == "sources.bytes_in")
      runs.foreach(m => assert(metrics.get(m).get("value").asDouble > 0, s"$m is 0 on $w"))
      val spans = (0 until doc.get("spans").size).map(i => doc.get("spans").get(i).get("name").asText)
      assert(spans.contains("call") && spans.contains("sources"))
      if (Workloads.isTiling(w))
        assert(Seq("Render", "TileAssembler", "TileAssembler.assemble", "Archives").forall(spans.contains))
      else assert(spans.contains("SpatialJoin"))
    }
  }
}

class BenchmarkJsonSpec extends org.scalatest.funsuite.AnyFunSuite {
  test("BENCHMARK.json names the workloads and the metrics the benchmark prints, with their units") {
    val doc = new ObjectMapper().readTree(new File("../BENCHMARK.json"))
    def list(key: String): Seq[(String, String)] = {
      val a = doc.get(key)
      (0 until a.size).map(i => a.get(i).get("name").asText -> Option(a.get(i).get("unit")).map(_.asText).orNull)
    }
    assert(list("workloads").map(_._1) == Workloads.Names)
    assert(list("per_layer") == Workloads.LayerMetrics)
    assert(list("end_to_end") == Main.EndToEnd)
  }
}
