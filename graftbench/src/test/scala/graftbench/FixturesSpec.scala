package graftbench

import org.apache.spark.sql.functions.col

import java.io.File
import java.nio.file.Files

class FixturesSpec extends BenchSession {

  /** Every file under `dir`, keyed by its path with Spark's per-write
    * UUID removed from part-file names, with its bytes. */
  private def contents(dir: File): Map[String, Seq[Byte]] = {
    val base = dir.toPath
    val uuid = "-[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"
    Files.walk(base).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(p => Files.isRegularFile(p))
      .map(p => base.relativize(p).toString.replaceAll(uuid, "") -> Files.readAllBytes(p).toSeq)
      .toMap
  }

  private def gen(w: String, seed: Long, name: String): File = {
    val dir = new File(root, s"gen-$w-$name")
    dir.mkdirs()
    Fixtures.generate(spark, dir.getPath, w, seed, Sizes.Tiny)
    dir
  }

  private def shape(w: String, dir: File): Seq[Any] = w match {
    case "docs_pmtiles" =>
      Seq(spark.read.parquet(s"$dir/docs").schema)
    case "osm_mbtiles" =>
      val e = spark.read.format("osmpbf").load(s"$dir/extract.osm.pbf")
      Seq(e.schema) ++ Seq("node", "relation").map(k => e.where(col("kind") === k).count())
    case _ =>
      Seq("points", "polys").flatMap { t =>
        val df = spark.read.parquet(s"$dir/$t")
        Seq(df.schema, df.count())
      }
  }

  for (w <- Workloads.Names) {
    test(s"$w: the same seed gives byte-identical inputs, another seed different ones of the same shape") {
      val a = gen(w, 7, "a")
      val b = gen(w, 7, "b")
      val c = gen(w, 8, "c")
      val (ca, cb, cc) = (contents(a), contents(b), contents(c))
      assert(ca.nonEmpty)
      assert(ca.keySet == cb.keySet)
      ca.foreach { case (k, bytes) => assert(cb(k) == bytes, s"$k differs between two runs of seed 7") }
      assert(ca.keySet == cc.keySet, "another seed writes the same files")
      assert(ca != cc, "another seed writes different content")
      assert(shape(w, a) == shape(w, c))
    }
  }

  test("the fixture cache is keyed by seed, generator version and synthesis version") {
    val k = Fixtures.key("docs_pmtiles", 7, Sizes.Tiny)
    assert(k.contains("s7") && k.contains(Fixtures.GenVersion) &&
      k.contains(graft.engine.Docs.SynthVersion))
    assert(Fixtures.key("docs_pmtiles", 8, Sizes.Tiny) != k)
    val cacheRoot = new File(root, "cache").getPath
    val first = Fixtures.obtain(spark, cacheRoot, "pip_partitioned", 5, Sizes.Tiny)
    val again = Fixtures.obtain(spark, cacheRoot, "pip_partitioned", 5, Sizes.Tiny)
    assert(!first.cached && again.cached)
    assert(again.genS == first.genS && again.files == first.files && again.facts == first.facts)
  }
}
