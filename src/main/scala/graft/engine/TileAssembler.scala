package graft.engine

import graft.geo.TileCoord
import graft.model._
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical.{DeserializeToObject, Filter, Generate,
  LogicalPlan, MapElements, MapPartitions, Project, RepartitionOperation, Sample,
  SerializeFromObject, SubqueryAlias, TypedFilter, Union}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.SqlBridge
import org.apache.spark.sql.types.{DataType, IntegerType}
import org.apache.spark.util.CollectionAccumulator
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/**
 * Phase 2+3 of the pipeline: global tile order + per-tile assembly.
 *
 * Spark shape (reference analog: external merge sort
 * `ExternalMergeSort.java` + tile writer `TileArchiveWriter.java`):
 *
 *   kv rows (key=Hilbert tile id, meta=layer|sortKey|id, value=bytes)
 *     .repartition(buckets, RangeSteer(key, sampled bounds)) // THE shuffle
 *     .sortWithinPartitions(key, meta, value)
 *     .mapPartitions(run-group consecutive key -> encode tile)
 *
 * The bounds come from a sample (>= 1%) of the rows under the render
 * fan-out ([[sampleRangeBounds]]), reduced per task to a fixed-size
 * reservoir before it reaches the driver.
 *
 * Sorting touches two longs (plus byte tie-break, mirroring the
 * reference's `SortableFeature` unsigned-byte tie-break); every
 * partition holds a contiguous, spatially-compact Hilbert range, so
 * grouping is a streaming single-pass run-group (reference
 * `FeatureGroup.java:339-378`) and partition order == tile order for
 * the ordered archive drain.
 *
 * Skew: the label-grid limit is applied map-side BEFORE the shuffle as
 * a partial top-K (bounded per-group heaps — keeping each group's K
 * smallest sort keys per map partition is a correct partial
 * aggregation), then exactly within the sorted run. Fill tiles arrive
 * canonicalized from the slicer, so ocean-scale polygons cannot create
 * hot keys.
 */
object TileAssembler {

  /** Upper bound on distinct (tile, layer, group) heads the map-side
    * partial top-K retains per input partition. The pass is purely a
    * shuffle-byte optimization — the exact in-run counter in
    * [[encodeTile]] enforces the limit regardless — so past the cap new
    * groups flow through untouched instead of growing the heap map
    * without bound (a render partition can fan out across millions of
    * tiles; ~64k heaps of ≤limit rows is a few MB, not the partition's
    * whole grouped output). */
  val PartialLimitMaxGroups = 1 << 16

  /** Total order matching the post-shuffle `sortWithinPartitions(key,
    * meta, value)`: the map-side partial must keep exactly the rows the
    * exact in-run counter would keep, so ties in sort_key break on
    * (meta, value) — NOT on arrival order, which would make tile bytes
    * depend on upstream row order. */
  private val kvHeapOrdering: Ordering[Kv] = new Ordering[Kv] {
    def compare(a: Kv, b: Kv): Int = {
      val m = java.lang.Long.compare(a.meta, b.meta)
      if (m != 0) return m
      val av = a.value; val bv = b.value
      val n = math.min(av.length, bv.length)
      var i = 0
      while (i < n) {
        val c = (av(i) & 0xff) - (bv(i) & 0xff)
        if (c != 0) return c
        i += 1
      }
      av.length - bv.length
    }
  }

  /** Map-side partial label-grid limit over the packed rows. */
  def partialLabelGridLimit(kv: Dataset[Kv],
                            maxGroups: Int = PartialLimitMaxGroups): Dataset[Kv] = {
    val spark = kv.sparkSession
    import spark.implicits._
    kv.mapPartitions { it =>
      val heaps = mutable.HashMap.empty[(Long, Int, Long), mutable.PriorityQueue[Kv]]
      // trim each heap to the LARGEST limit seen for its group, not the
      // arriving row's: with mixed per-feature limits in one grid cell a
      // small-limit row could otherwise evict a row the exact in-run
      // counter keeps — the partial must stay a SUPERSET of the exact
      // pass (which enforces each row's own limit downstream)
      val maxLimits = mutable.HashMap.empty[(Long, Int, Long), Int]
      val grouped = it.filter { r =>
        val (group, limit) = KvCodec.peekGroup(r.value)
        if (group == 0 || limit <= 0) true
        else {
          val k = (r.key, KvCodec.layerId(r.meta), group)
          heaps.get(k) match {
            case None if heaps.size >= maxGroups => true // lossy-in-coverage past cap
            case existing =>
              val heap = existing.getOrElse {
                val h = mutable.PriorityQueue.empty[Kv](kvHeapOrdering)
                heaps.put(k, h)
                h
              }
              val maxLimit = math.max(limit, maxLimits.getOrElse(k, 0))
              maxLimits.put(k, maxLimit)
              heap += r
              if (heap.size > maxLimit) heap.dequeue() // drop largest (meta, value)
              false
          }
        }
      }
      grouped ++ heaps.valuesIterator.flatMap(_.iterator)
    }
  }

  /** Murmur3/pmod preimages: ints j(0..n-1) with
    * pmod(murmur3(j, 42), n) == i — hash-partitioning on the looked-up
    * preimage steers a row to EXACTLY partition i, which lets a plain
    * `repartition(n, expr)` express explicit range partitioning with
    * no sampling pass (partition index stays monotone in the range
    * bucket, which the ordered archive drains rely on). */
  private[engine] def hashPreimages(n: Int): Array[Int] = {
    val pre = new Array[Int](n)
    val found = new Array[Boolean](n)
    var remaining = n
    var j = 0
    while (remaining > 0) {
      val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt(j, 42)
      val p = ((h % n) + n) % n
      if (!found(p)) { found(p) = true; pre(p) = j; remaining -= 1 }
      j += 1
    }
    pre
  }

  /** Range-steering expression: binary-search the sampled bounds,
    * output the preimage int for the bucket. One lookup per row,
    * evaluated inside the exchange's partitioner projection. */
  private[engine] case class RangeSteer(child: Expression, bounds: Array[Long], preimages: Array[Int])
      extends UnaryExpression {
    override def dataType: DataType = IntegerType
    override protected def nullSafeEval(v: Any): Any = {
      val ip = java.util.Arrays.binarySearch(bounds, v.asInstanceOf[Long])
      preimages(if (ip >= 0) ip else -(ip + 1))
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val b = ctx.addReferenceObj("bounds", bounds, "long[]")
      val p = ctx.addReferenceObj("preimages", preimages, "int[]")
      val ip = ctx.freshName("ip")
      nullSafeCodeGen(ctx, ev, v =>
        s"""int $ip = java.util.Arrays.binarySearch($b, $v);
           |${ev.value} = $p[$ip >= 0 ? $ip : -($ip + 1)];""".stripMargin)
    }
    override protected def withNewChildInternal(c: Expression): RangeSteer = copy(child = c)
  }

  /** Least fraction of the rows at the sample frontier that the bound
    * estimate renders: unbiased in key space (unlike a take-N head
    * sample, which inherits whatever ordering the input files have) at
    * ~1% of the render cost. */
  private val BoundSampleFraction = 0.01

  /** Sample points per range bucket, `RangePartitioner`'s default
    * `samplePointsPerPartitionHint`. */
  private val SamplePointsPerBucket = 20

  /** 3x the points, as `RangePartitioner.sketch` sizes its sample: the
    * keys all reservoirs keep together, and the frontier rows a sample
    * of an input of known size carries. */
  private def sampleSize(buckets: Int): Double =
    3.0 * math.min(SamplePointsPerBucket.toDouble * buckets, 1e6)

  /** Operators whose output rows each derive from input rows alone
    * (mapPartitions counts: the pipeline's are per-row flatMaps), so a
    * uniform sample of their input yields the key distribution of a
    * sample of their output. Joins, aggregates, windows, dedup and
    * limits are not: sampling below a join samples both sides
    * independently, and below a limit changes which rows it keeps. */
  private def rowLocal(p: LogicalPlan): Boolean = p match {
    case _: Project | _: Filter | _: TypedFilter | _: DeserializeToObject |
         _: SerializeFromObject | _: MapElements | _: MapPartitions | _: Generate |
         _: RepartitionOperation | _: SubqueryAlias | _: Union =>
      p.expressions.forall(_.deterministic)
    case _ => false
  }

  /** The nodes where a walk down from the root through [[rowLocal]]
    * operators stops: scans, cached relations, joins, aggregates,
    * limits. */
  private def frontier(plan: LogicalPlan): Seq[LogicalPlan] =
    if (rowLocal(plan)) plan.children.flatMap(frontier) else Seq(plan)

  /** `plan` with `Sample(fraction)` directly above every [[frontier]] node. */
  private def sampleAtFrontier(plan: LogicalPlan, fraction: Double): LogicalPlan =
    if (rowLocal(plan)) plan.withNewChildren(plan.children.map(sampleAtFrontier(_, fraction)))
    else Sample(0.0, fraction, withReplacement = false, 42L, plan)

  /**
   * The keys of a uniform sample of `kv`, computed by re-running its
   * plan with the sample pushed down to the row-local frontier, so only
   * the sampled rows pass through the render fan-out. The plan is taken
   * after cache substitution: a persisted feature stream is an
   * `InMemoryRelation` leaf there, and the sample reads the cache
   * instead of recomputing the ingest.
   *
   * It samples 1% of the frontier rows, or more when their count is
   * known (a materialised cache reports it) and 1% would carry fewer
   * rows than the reservoirs hold, as `RangePartitioner.sketch` sets
   * its fraction to sample size / row count: a feature's keys
   * cluster, so bound quality follows the number of sampled frontier
   * rows.
   */
  private[engine] def boundSample(kv: Dataset[Kv], buckets: Int): DataFrame = {
    val plan = kv.queryExecution.withCachedData
    val rows = frontier(plan).map(_.stats.rowCount)
    val fraction =
      if (rows.exists(_.isEmpty)) BoundSampleFraction
      else math.min(1.0, math.max(BoundSampleFraction, sampleSize(buckets) / rows.flatten.sum.toDouble))
    SqlBridge.ofRows(kv.sparkSession, sampleAtFrontier(plan, fraction)).select(col("key"))
  }

  /** One job over [[boundSample]]: per task, (keys seen, a uniform
    * reservoir of at most `reservoir` keys). A non-positive `reservoir`
    * sizes it from `buckets`; the driver holds at most
    * tasks × reservoir keys whatever the input size. */
  private[engine] def sketchKeys(kv: Dataset[Kv], buckets: Int,
                                 reservoir: Int = 0): Array[(Long, Array[Long])] = {
    val sc = kv.sparkSession.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription("assemble: range-bound sample")
    try {
      // >= 1% of the frontier rows reach the render, so ~1% as many
      // tasks carry it, but at least one per slot so the frontier scan
      // still uses every core. Each task deserialises the render
      // profile; on the osm benchmark (11 cache partitions, 4 cores)
      // 4 tasks instead of 11 cut the sample from ~0.4 s to ~0.27 s
      val sampled = boundSample(kv, buckets).queryExecution.toRdd
      val keys = sampled.coalesce(math.max(sc.defaultParallelism,
        math.ceil(sampled.getNumPartitions * BoundSampleFraction).toInt))
      val parts = keys.getNumPartitions
      if (parts == 0) return Array.empty
      val k = if (reservoir > 0) reservoir else math.ceil(sampleSize(buckets) / parts).toInt
      keys.mapPartitionsWithIndex { (idx, rows) =>
        val (kept, seen) = SqlBridge.reservoirSampleAndCount(rows.map(_.getLong(0)), k, idx)
        Iterator.single((seen, kept))
      }.collect()
    } finally sc.setJobDescription(prev)
  }

  /** Weighted equal-frequency bounds over a [[sketchKeys]] sketch: each
    * kept key stands for seen / kept rows of its task. */
  private[engine] def boundsFromSketch(sketch: Array[(Long, Array[Long])],
                                       buckets: Int): Array[Long] = {
    val candidates = ArrayBuffer.empty[(Long, Float)]
    sketch.foreach { case (seen, kept) =>
      if (kept.nonEmpty) {
        val weight = (seen.toDouble / kept.length).toFloat
        kept.foreach(k => candidates += ((k, weight)))
      }
    }
    SqlBridge.determineBounds(candidates, buckets)
  }

  /** At most `buckets - 1` strictly increasing range bounds for `kv`'s
    * keys. */
  private[engine] def sampleRangeBounds(kv: Dataset[Kv], buckets: Int): Array[Long] =
    if (buckets <= 1) Array.empty
    else boundsFromSketch(sketchKeys(kv, buckets), buckets)

  def assemble(kv: Dataset[Kv],
               profile: Profile,
               numPartitions: Int,
               gzipTiles: Boolean = true,
               lineage: Option[CollectionAccumulator[PartitionLineage]] = None,
               persistBeforeShuffle: Boolean = false): Dataset[TileBytes] = {
    // `persistBeforeShuffle` is retired (kept for source compat): it
    // existed to keep repartitionByRange's bound-sampling job from
    // recomputing the render fan-out. The bounds below come from a
    // sample pushed under the fan-out, so the full fan-out computes
    // exactly ONCE and nothing needs caching.
    //
    // 6x buckets per slot: per-ROW encode cost varies by zoom region
    // (many tiny tiles pay per-tile gzip/alloc overhead), so equal-row
    // buckets alone leave a 2-3x straggler at the stage tail; finer
    // buckets let the scheduler pack them (guide §2.5/§2.6). Measured
    // on the scaling workload at 16 threads: 4x left reduce-stage
    // occupancy at 0.81-0.86 (last-wave tail); 6x packs it tighter at
    // negligible per-task overhead (16x96 shuffle blocks).
    val targetBuckets = if (numPartitions <= 1) 1 else numPartitions * 6
    assembleRanged(kv, sampleRangeBounds(kv, targetBuckets), profile, gzipTiles, lineage)
  }

  /** [[assemble]] with the range bounds given: bucket i holds the keys
    * in (bounds(i-1), bounds(i)]. Tile bytes do not depend on the
    * bounds, only the partition each tile lands in. */
  private[engine] def assembleRanged(kv: Dataset[Kv], bounds: Array[Long], profile: Profile,
                                     gzipTiles: Boolean,
                                     lineage: Option[CollectionAccumulator[PartitionLineage]]
                                    ): Dataset[TileBytes] = {
    val spark = kv.sparkSession
    import spark.implicits._
    val buckets = bounds.length + 1
    val steer = SqlBridge.col(RangeSteer(SqlBridge.expr(col("key")), bounds, hashPreimages(buckets)))
    val sorted = partialLabelGridLimit(kv)
      .repartition(buckets, steer)
      .sortWithinPartitions(col("key"), col("meta"), col("value"))
    val layers = profile.layers

    sorted.mapPartitions { it =>
      new Iterator[TileBytes] {
        val peeked = it.buffered
        var partitionRows = 0L
        var minKey = Long.MaxValue
        var maxKey = Long.MinValue
        var reported = false

        override def hasNext: Boolean = {
          val more = peeked.hasNext
          if (!more && !reported) {
            reported = true
            lineage.foreach { acc =>
              acc.add(PartitionLineage("assemble",
                org.apache.spark.TaskContext.getPartitionId(), partitionRows, minKey, maxKey))
            }
          }
          more
        }

        override def next(): TileBytes = {
          val tileId = peeked.head.key
          val feats = ArrayBuffer.empty[Rendered]
          while (peeked.hasNext && peeked.head.key == tileId) {
            feats += KvCodec.decode(peeked.next(), layers)
            partitionRows += 1
          }
          if (tileId < minKey) minKey = tileId
          if (tileId > maxKey) maxKey = tileId
          encodeTile(tileId, feats.toSeq, profile, gzipTiles)
        }
      }
    }
  }

  /** Encode one tile's features (already in (layer, sort_key) order:
    * single pass, no groupBy/sort — the sorted-run grouping the
    * reference does in `FeatureGroup.java:339-378`). */
  def encodeTile(tileId: Long, feats: Seq[Rendered], profile: Profile,
                 gzipTiles: Boolean): TileBytes = {
    val (x, y, z) = TileCoord.decodeHilbert(tileId)
    val rawLayers = ArrayBuffer.empty[(String, Seq[Mvt.LayerFeature])]
    var curLayer: String = null
    var curFeats: ArrayBuffer[Mvt.LayerFeature] = null
    // exact label-grid limit within the sorted run (streaming counters,
    // reference: `FeatureGroup.java:616-637`)
    var counters: mutable.HashMap[Long, Int] = null
    def flush(): Unit = if (curLayer != null) {
      rawLayers += ((curLayer, curFeats.toSeq))
    }
    feats.foreach { r =>
      if (r.layer != curLayer) {
        flush()
        curLayer = r.layer
        curFeats = new ArrayBuffer[Mvt.LayerFeature](16)
        counters = null
      }
      val keep =
        if (r.group == 0 || r.group_limit <= 0) true
        else {
          if (counters == null) counters = mutable.HashMap.empty
          val c = counters.getOrElse(r.group, 0) + 1
          counters(r.group) = c
          c <= r.group_limit
        }
      if (keep) curFeats += Mvt.LayerFeature(r.feature_id, r.geom_type, r.commands, r.attrs, r.scale)
    }
    flush()
    // cross-layer tile hook FIRST (may move features between layers),
    // then the per-layer hook — same order as the reference. A null
    // return means "unchanged" (reference contract); profiles that
    // never override the hook skip the per-tile map build entirely.
    val afterTile = profile.postProcessTile(z, x, y, rawLayers.toMap)
    val orderedLayers: Seq[(String, Seq[Mvt.LayerFeature])] =
      if (afterTile == null) rawLayers.toSeq
      else {
        // keep the profile's declared layer order; any new layers the
        // hook introduced append in name order
        (profile.layers.filter(afterTile.contains) ++
          afterTile.keys.filterNot(profile.layers.contains).toSeq.sorted)
          .map(name => (name, afterTile(name)))
      }
    val layers = orderedLayers.map { case (name, fs) =>
      // unscale extra-precision features AFTER merge post-processing
      // (reference order: FeatureGroup unscales before the archive
      // write); collapsed geometries drop out here
      val processed = profile.postProcessLayer(name, z, fs).flatMap { f =>
        if (f.scale <= 0) Some(f)
        else {
          val cmds = Mvt.unscale(f.geomType, f.commands, f.scale)
          if (cmds.isEmpty) None else Some(f.copy(commands = cmds, scale = 0))
        }
      }
      (name, processed)
    }.filter(_._2.nonEmpty)
    val kept = layers.map(_._2.size).sum
    val bytes0 = Mvt.encodeTile(layers)
    val bytes = if (gzipTiles) Mvt.gzip(bytes0) else bytes0
    TileBytes(tileId, z, x, y, bytes, kept, Mvt.fnv1a64(bytes0))
  }

  /**
   * Parallel files-archive sink: {out}/{z}/{x}/{y}.pbf (the reference's
   * `files/WriteableFilesArchive` is the one archive that declares
   * concurrent-write support — the natural Spark sink; the ordered
   * single-file drain is `ClusteredArchive`).
   */
  def writeFilesArchive(tiles: Dataset[TileBytes], outDir: String): Long = {
    tiles.mapPartitions { it =>
      var n = 0L
      // tiles arrive Hilbert-ordered, so long runs share one {z}/{x}
      // directory — cache the last created dir instead of a
      // createDirectories metadata syscall per tile
      var lastDirKey: Long = -1L
      var lastDir: java.nio.file.Path = null
      it.foreach { t =>
        val dirKey = (t.z.toLong << 32) | (t.x.toLong & 0xffffffffL)
        if (dirKey != lastDirKey) {
          lastDir = java.nio.file.Paths.get(outDir, t.z.toString, t.x.toString)
          java.nio.file.Files.createDirectories(lastDir)
          lastDirKey = dirKey
        }
        java.nio.file.Files.write(lastDir.resolve(s"${t.y}.pbf"), t.bytes)
        n += 1
      }
      Iterator.single(n)
    }(org.apache.spark.sql.Encoders.scalaLong).reduce(_ + _)
  }
}
