package graftbench

import graft.engine.{Mvt, PmtilesArchive, SpatialJoin}
import graft.geo.TileCoord
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import java.io.File
import java.security.MessageDigest

final case class Check(name: String, ok: Boolean, detail: String)

/** What the output checks learned about one output. */
final case class Verified(items: Long, bytes: Long, digest: String, checks: Seq[Check],
                          facts: Map[String, Double])

/**
 * Output checks. They run outside every timed region and read outputs
 * back only through the repository's own readers.
 */
object Checks {

  def fileSha256(path: String): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val in = new java.io.FileInputStream(path)
    try {
      val buf = new Array[Byte](1 << 16)
      var n = in.read(buf)
      while (n > 0) { md.update(buf, 0, n); n = in.read(buf) }
    } finally in.close()
    md.digest().map(b => f"$b%02x").mkString
  }

  private def longBytes(v: Long): Array[Byte] = java.nio.ByteBuffer.allocate(8).putLong(v).array()

  /** (tile id, stored bytes) of an archive, ascending tile id, plus the
    * number of distinct stored contents. PMTiles goes through
    * `PmtilesArchive.openReader`, MBTiles through the `mbtiles` source. */
  def readArchive(spark: SparkSession, path: String): (Array[(Long, Array[Byte])], Long) =
    if (path.endsWith(".pmtiles")) {
      val reader = PmtilesArchive.openReader(path, spark.sparkContext.hadoopConfiguration)
      try {
        val tiles = reader.allEntries.flatMap { e =>
          val data = reader.tileData(e)
          (0 until e.runLength).map(k => (e.tileId + k, data))
        }.toArray
        (tiles, reader.header.numTileContents)
      } finally reader.close()
    } else {
      val rows = spark.read.format("mbtiles").load(path)
        .select(col("z"), col("x"), col("y"), col("bytes")).collect()
      val tiles = rows.map(r => (TileCoord.encodeHilbert(r.getInt(1), r.getInt(2), r.getInt(0)),
        r.getAs[Array[Byte]](3))).sortBy(_._1)
      val distinct = tiles.map(t => java.nio.ByteBuffer.wrap(t._2)).distinct.length.toLong
      (tiles, distinct)
    }

  /**
   * Reopens a tile archive and checks it: the tile count equals
   * `expectedTiles`, every tile un-gzips and decodes as an MVT, tile
   * ids are unique. Tiles that decode to no features are counted, not
   * failed: an empty MVT is a valid tile. The digest covers (tile id, un-gzipped
   * MVT bytes) in tile-id order, so any change to tile content shows.
   */
  def tileArchive(spark: SparkSession, path: String, expectedTiles: Long): Verified = {
    val (tiles, contents) = readArchive(spark, path)
    val md = MessageDigest.getInstance("SHA-256")
    var undecodable = 0L
    var empty = 0L
    var features = 0L
    var mvtBytes = 0L
    tiles.foreach { case (id, stored) =>
      val raw = try Mvt.gunzip(stored) catch { case _: Exception => null }
      val n = if (raw == null) -1 else try Mvt.decodeTile(raw).length catch { case _: Exception => -1 }
      if (n < 0) undecodable += 1
      else if (n == 0) empty += 1
      else features += n
      if (raw != null) {
        mvtBytes += raw.length
        md.update(longBytes(id)); md.update(longBytes(raw.length.toLong)); md.update(raw)
      }
    }
    val ids = tiles.map(_._1)
    val unique = ids.distinct.length == ids.length
    val bytes = new File(path).length()
    Verified(tiles.length.toLong, bytes, md.digest().map(b => f"$b%02x").mkString, Seq(
      Check("tile_count", tiles.length.toLong == expectedTiles && expectedTiles > 0,
        s"reopened ${tiles.length} tiles, expected $expectedTiles"),
      Check("tiles_decode", undecodable == 0,
        s"$undecodable tiles fail to un-gzip or decode as MVT; $empty decode to an empty tile"),
      Check("tile_ids_unique", unique, "tile ids are unique")),
      Map("features" -> features.toDouble, "empty_tiles" -> empty.toDouble, "mvt_bytes" -> mvtBytes.toDouble,
        "dedup_ratio" -> (if (contents > 0) tiles.length.toDouble / contents else 0.0)))
  }

  /**
   * Checks a materialised point-in-polygon result against
   * `SpatialJoin.PolygonIndex.firstContaining` on a seeded sample of
   * points (every megacity point is a candidate, plus a uniform draw),
   * and that no point is assigned twice.
   */
  def pipResult(spark: SparkSession, fx: Fixture, outDir: String, sample: Int = 800): Verified = {
    val out = spark.read.parquet(outDir).select(col("doc_id"), col("poly_id"))
    val rows = out.collect().map(r => (r.getString(0), r.getString(1))).sortBy(_._1)
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach { case (d, p) => md.update(s"$d\t$p\n".getBytes("UTF-8")) }
    val assigned = rows.toMap

    val n = fx.facts("points").toInt
    val mega = fx.facts("mega_points").toInt
    val r = new java.util.Random(fx.seed ^ 0x5EEDL)
    val ids = (Seq.fill(sample / 4)(r.nextInt(math.max(1, mega))) ++ Seq.fill(sample)(r.nextInt(n)))
      .distinct.map(i => s"pt_$i")
    import spark.implicits._
    val pts = spark.read.parquet(fx.file("points")).where(col("doc_id").isin(ids: _*))
      .select(col("doc_id"), col("lon"), col("lat")).as[(String, Double, Double)].collect()
    val polys = spark.read.parquet(fx.file("polys")).select(col("doc_id"), col("geom"))
      .as[(String, Array[Byte])].collect().map { case (id, g) => SpatialJoin.Poly(id, g, Map.empty) }
    val index = new SpatialJoin.PolygonIndex(polys)
    val wrong = pts.filter { case (id, lon, lat) =>
      index.firstContaining(lon, lat).map(_.id) != assigned.get(id)
    }
    val bytes = Fixtures.sizeOf(new File(outDir))
    Verified(n.toLong, bytes, md.digest().map(b => f"$b%02x").mkString, Seq(
      Check("sample_found", pts.length == ids.length, s"${pts.length} of ${ids.length} sampled points read back"),
      Check("assignments", wrong.isEmpty,
        s"${wrong.length} of ${pts.length} sampled points differ from PolygonIndex.firstContaining" +
          wrong.take(3).map(w => s" ${w._1}").mkString),
      Check("unique_points", rows.length == assigned.size, s"${rows.length} rows, ${assigned.size} points")),
      Map("matched" -> rows.length.toDouble,
        "match_ratio" -> (if (n > 0) rows.length.toDouble / n else 0.0)))
  }
}
