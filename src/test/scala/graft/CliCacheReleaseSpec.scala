package graft

import graft.cli.{Arguments, GraftCli}
import graft.sources.OsmPbf
import org.scalatest.funsuite.AnyFunSuite

/** `GraftCli.run` caches what it reads more than once (the feature
  * stream, the OSM way coordinates); every such cache is released when
  * the run ends, so a long-lived session calling `run` again and again
  * holds no more cached data than before it started. */
class CliCacheReleaseSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private def n(id: Long, lon: Double, lat: Double, tags: (String, String)*): OsmPbf.Entity =
    OsmPbf.Entity("node", id, lat, lon, tags.toSeq, Array.empty,
      Array.empty, Array.empty, Array.empty, 1, 1600000000L, 1L, 1, "t")

  private def w(id: Long, refs: Seq[Long], tags: (String, String)*): OsmPbf.Entity =
    OsmPbf.Entity("way", id, Double.NaN, Double.NaN, tags.toSeq, refs.toArray,
      Array.empty, Array.empty, Array.empty, 1, 1600000000L, 1L, 1, "t")

  private def r(id: Long, members: Seq[(String, Long, String)], tags: (String, String)*): OsmPbf.Entity =
    OsmPbf.Entity("relation", id, Double.NaN, Double.NaN, tags.toSeq, Array.empty,
      members.map(_._1).toArray, members.map(_._2).toArray, members.map(_._3).toArray,
      1, 1600000000L, 1L, 1, "t")

  /** A tagged point, a road in a route relation (itself in a
    * super-relation), a building, and a multipolygon of two untagged
    * ways: both the way branch and the relation branch read the way
    * coordinates. */
  private lazy val pbf: String = {
    val entities = Seq(
      n(1, 10.00, 50.00, "amenity" -> "cafe"), n(2, 10.01, 50.00), n(3, 10.02, 50.00),
      n(10, 11.0, 51.0), n(11, 11.01, 51.0), n(12, 11.01, 51.01), n(13, 11.0, 51.01),
      n(20, 10.0, 50.1), n(21, 10.001, 50.1), n(22, 10.001, 50.101), n(23, 10.0, 50.101),
      w(100, Seq(1L, 2L, 3L), "highway" -> "primary"),
      w(101, Seq(20L, 21L, 22L, 23L, 20L), "building" -> "yes"),
      w(102, Seq(10L, 11L, 12L)), w(103, Seq(12L, 13L, 10L)),
      r(500, Seq(("way", 100L, "")), "type" -> "route", "route" -> "bus"),
      r(600, Seq(("relation", 500L, "")), "type" -> "route", "route" -> "bus"),
      r(700, Seq(("way", 102L, "outer"), ("way", 103L, "outer")),
        "type" -> "multipolygon", "landuse" -> "forest"))
    val dir = java.nio.file.Files.createTempDirectory("graft_cli_cache")
    val p = dir.resolve("t.osm.pbf").toString
    OsmPbf.write(p, new org.apache.hadoop.conf.Configuration(), entities.iterator)
    p
  }

  test("GraftCli.run on an OSM input releases every cache it created") {
    val sc = spark.sparkContext
    for (i <- 1 to 2) {
      val before = sc.getPersistentRDDs.keySet
      val out = java.nio.file.Files.createTempDirectory("graft_cli_cache_out").toString + "/t.mbtiles"
      assert(GraftCli.run(Arguments.of("input" -> pbf, "output" -> out, "maxzoom" -> "10"), spark) > 0)
      // the count may only fall (an unreferenced RDD from earlier work
      // can be collected meanwhile), never rise
      val after = sc.getPersistentRDDs
      assert(after.keySet.subsetOf(before) && after.size <= before.size,
        s"run $i left persisted RDDs ${after.keySet -- before}")
    }
  }
}
