package graft.weights

import graft.core.{Dist, Tiling}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** k-nearest-neighbor spatial weights, rebuilt Spark-first.
  *
  * Reference behavior: `knn_weights(gid, geom, k [, power, is_inverse,
  * is_arc, is_mile])` (`postgeoda/src/weights_knn.c:58-202`,
  * `postgeoda/src/proxy.cpp:130-139`) — a single-node kd-tree build.
  *
  * Spark shape (SURVEY §7.4): grid cells sized for ~k points per
  * Chebyshev-1 block; every point is SHIPPED to the 9 cells of its block
  * (one shuffle keyed by cell), then a per-cell `flatMapGroups` computes
  * each home point's top-k with a bounded max-heap — no global sort, no
  * second aggregation shuffle: the group pass emits finished neighbor
  * arrays. A point's top-k is provably complete when its kth-neighbor
  * distance < cellSize (anything outside the block is ≥ cellSize away);
  * the rare uncertified points re-run through an expanding-radius
  * join (they are <<1% for any sane cell size), ending in a broadcast
  * brute-force pass. Deterministic: neighbor order (distance, gid) asc.
  *
  * Scale notes: shuffle volume is 9×|points| fixed-width rows; skewed
  * (dense) cells only grow the in-memory candidate buffer of their one
  * group — for pathological density add a salt level to the tiling, but
  * AQE already splits the *shuffle* partitions. The reference's manual
  * `knn_weights_sub` sharding (`weights_knn.c:213-369`) is obsolete here.
  */
object KnnWeights {

  case class Conf(
      k: Int,
      power: Double = 1.0,
      isInverse: Boolean = false,
      isArc: Boolean = false,
      isMile: Boolean = true,
      kernel: Option[String] = None,
      adaptiveBandwidth: Boolean = true,
      useKernelDiagonals: Boolean = false,
      cellSize: Option[Double] = None)

  /** Auto cell size targeting ~k candidates per 3x3 block. */
  def autoCellSize(points: DataFrame, k: Int): Double = {
    val row = points.agg(min("x"), max("x"), min("y"), max("y"),
      count(lit(1))).head()
    val (mnx, mxx, mny, mxy, n) = (row.getDouble(0), row.getDouble(1),
      row.getDouble(2), row.getDouble(3), row.getLong(4))
    val w = math.max(mxx - mnx, 1e-9); val h = math.max(mxy - mny, 1e-9)
    math.max(math.sqrt(w * h * math.max(1, k) / math.max(1L, n)), 1e-9)
  }

  @inline private def distOf(conf: Conf)(ax: Double, ay: Double,
                                         bx: Double, by: Double): Double =
    if (conf.isArc) Dist.arc(ax, ay, bx, by, conf.isMile)
    else Dist.euclidean(ax, ay, bx, by)

  /** Certification bound: the minimum possible distance to any point
    * OUTSIDE the ±`cells` Chebyshev block of a home point at latitude
    * `y`, in the same units as `distOf`. Planar: cells × cellSize. Arc:
    * the block guarantees ≥ cells×cellSize degrees of separation in lat
    * or lon; lat degrees are worth degLen, lon degrees shrink by cos at
    * the worst latitude the un-excluded band can reach (|y| + extent),
    * so the bound uses that cos — the unit fix for the old
    * kth(miles) < cellSize(degrees) comparison.
    */
  @inline private def certBound(conf: Conf, cellSizeDeg: Double,
                                cells: Int, y: Double): Double = {
    val span = cells * cellSizeDeg
    if (!conf.isArc) span
    else {
      val degLen = (if (conf.isMile) Dist.EarthMiles else Dist.EarthKm) *
        math.Pi / 180.0
      val phi = math.min(math.abs(y) + span, 89.999)
      span * degLen * math.cos(math.toRadians(phi))
    }
  }

  /** Bounded max-heap of (dist, gid), capacity k, with deterministic
    * (dist, gid) ordering.
    */
  private final class TopK(k: Int) {
    val ds = new Array[Double](k)
    val gs = new Array[Long](k)
    var size = 0
    @inline private def worse(i: Int, j: Int): Boolean =
      ds(i) > ds(j) || (ds(i) == ds(j) && gs(i) > gs(j))
    @inline private def swap(i: Int, j: Int): Unit = {
      val d = ds(i); ds(i) = ds(j); ds(j) = d
      val g = gs(i); gs(i) = gs(j); gs(j) = g
    }
    def offer(d: Double, g: Long): Unit = {
      if (size < k) {
        ds(size) = d; gs(size) = g; size += 1
        var i = size - 1
        // sift up: root must hold the WORST (largest) kept entry
        while (i > 0 && worse(i, (i - 1) / 2)) { swap((i - 1) / 2, i); i = (i - 1) / 2 }
      } else if (d < ds(0) || (d == ds(0) && g < gs(0))) {
        ds(0) = d; gs(0) = g
        var i = 0
        var go = true
        while (go) {
          val l = 2 * i + 1; val r = 2 * i + 2
          var m = i
          if (l < size && worse(l, m)) m = l
          if (r < size && worse(r, m)) m = r
          if (m == i) go = false else { swap(i, m); i = m }
        }
      }
    }
    /** kth (largest kept) distance, or +inf when under-filled. */
    def kth: Double = if (size == 0) Double.PositiveInfinity else ds(0)
    /** drain into (nbrs, dists) sorted by (dist, gid) asc. */
    def sortedOut(): (Array[Long], Array[Double]) = {
      val idx = (0 until size).sortBy(i => (ds(i), gs(i)))
      (idx.map(gs).toArray, idx.map(ds).toArray)
    }
  }

  /** Complete per-point result: (gid, x, y, nbrs sorted, dists sorted).
    * `homeFilter` restricts which points get RESULTS (all points remain
    * candidates) — the engine-side analogue of `knn_weights_sub`'s
    * [start, end) sharding: the group pass skips non-matching homes, so
    * compute is pruned to the requested slice, not post-filtered.
    */
  def knnRows(points: DataFrame, conf: Conf,
              homeFilter: Option[Column] = None): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    val s = conf.cellSize.getOrElse(autoCellSize(points, conf.k))
    val k = conf.k
    val cfg = conf

    val pts = points.select(col("gid").cast("long"), col("x"), col("y"))
      .withColumn("cell", Tiling.cellIdCol(col("x"), col("y"), s))

    // ship every point to its 9-cell block; home flagged by delta==0.
    // Grouping is done by hash-repartition + in-partition sort on the
    // cell key — this stays in Tungsten binary rows through the whole
    // exchange (a Dataset groupByKey here deserializes all 9N rows into
    // JVM tuples before the shuffle and costs ~3x the entire kNN math).
    val deltas = (for (dx <- -1 to 1; dy <- -1 to 1)
      yield dx.toLong * Tiling.Mul + dy).toArray
    val homePred = homeFilter.getOrElse(lit(true))
    val shippedDf = pts
      .withColumn("__delta", explode(typedLit(deltas)))
      .select((col("cell") + col("__delta")).as("tcell"), col("gid"),
        col("x"), col("y"),
        ((col("__delta") === 0L) && homePred).as("home"))
      // explicit partition count: the group pass is compute-bound (heap
      // evals), so we want ~4 waves of tasks per core for balance; an
      // AQE-coalesced exchange would target 64MB IO-sized partitions and
      // under-parallelize the math
      .repartition(4 * points.sparkSession.sessionState.conf.numShufflePartitions,
        col("tcell"))
      .sortWithinPartitions("tcell")

    // one pass per cell-run over raw InternalRows: bounded-heap top-k per
    // home point. Fields read straight out of UnsafeRows into primitive
    // buffers — zero boxing for the 9N shipped rows, which keeps the hot
    // stage allocation-free (only the 2M output rows allocate).
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types._
    val outSchema = StructType(Seq(
      StructField("gid", LongType, nullable = false),
      StructField("x", DoubleType, nullable = false),
      StructField("y", DoubleType, nullable = false),
      StructField("nbrs", ArrayType(LongType, containsNull = false)),
      StructField("dists", ArrayType(DoubleType, containsNull = false)),
      StructField("certified", BooleanType, nullable = false)))
    val outRdd = org.apache.spark.sql.graftshim.ColumnShim
      .toInternalRdd(shippedDf)
      .mapPartitions { it =>
        new Iterator[InternalRow] {
          private var gBuf = new Array[Long](256)
          private var xBuf = new Array[Double](256)
          private var yBuf = new Array[Double](256)
          private var hBuf = new Array[Boolean](256)
          private var n = 0
          private var nextRow: InternalRow = if (it.hasNext) it.next() else null
          private var pendingIdx = 0 // index into buffered homes
          private def grow(): Unit = {
            val cap = gBuf.length * 2
            gBuf = java.util.Arrays.copyOf(gBuf, cap)
            xBuf = java.util.Arrays.copyOf(xBuf, cap)
            yBuf = java.util.Arrays.copyOf(yBuf, cap)
            hBuf = java.util.Arrays.copyOf(hBuf, cap)
          }
          private def loadRun(): Unit = {
            n = 0
            pendingIdx = 0
            if (nextRow == null) return
            val cell = nextRow.getLong(0)
            var go = true
            while (go) {
              if (n == gBuf.length) grow()
              gBuf(n) = nextRow.getLong(1)
              xBuf(n) = nextRow.getDouble(2)
              yBuf(n) = nextRow.getDouble(3)
              hBuf(n) = nextRow.getBoolean(4)
              n += 1
              if (it.hasNext) {
                nextRow = it.next()
                go = nextRow.getLong(0) == cell
              } else { nextRow = null; go = false }
            }
          }
          private def seekHome(): Boolean = {
            while (true) {
              while (pendingIdx < n && !hBuf(pendingIdx)) pendingIdx += 1
              if (pendingIdx < n) return true
              if (nextRow == null) return false
              loadRun()
            }
            false
          }
          def hasNext: Boolean = seekHome()
          def next(): InternalRow = {
            if (!seekHome()) throw new NoSuchElementException
            val i0 = pendingIdx
            pendingIdx += 1
            val gid = gBuf(i0); val x = xBuf(i0); val y = yBuf(i0)
            val heap = new TopK(k)
            var i = 0
            while (i < n) {
              if (gBuf(i) != gid)
                heap.offer(distOf(cfg)(x, y, xBuf(i), yBuf(i)), gBuf(i))
              i += 1
            }
            val (nbrs, dists) = heap.sortedOut()
            val certified = heap.size == k &&
              heap.kth < certBound(cfg, s, 1, y)
            new GenericInternalRow(Array[Any](gid, x, y,
              ArrayData.toArrayData(nbrs), ArrayData.toArrayData(dists),
              certified))
          }
        }
      }
    val round1 = org.apache.spark.sql.graftshim.ColumnShim
      .internalDf(spark, outRdd, outSchema).cache()
    val loopCaches = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

    val resolved = round1.filter(col("certified"))
      .select("gid", "x", "y", "nbrs", "dists")

    val unresolvedPts = round1.filter(!col("certified"))
      .select("gid", "x", "y")
      .withColumn("cell", Tiling.cellIdCol(col("x"), col("y"), s))

    // expanding-radius completion for the stragglers (normally <<1%)
    var done = resolved
    var unresolved = unresolvedPts
    var r = 2
    var exhausted = false
    var remaining = unresolved.limit(1).count() > 0
    val ptsB = pts.select(col("gid").as("bgid"), col("x").as("bx"),
      col("y").as("by"), col("cell").as("bcell"))
    while (remaining) {
      val cand =
        if (!exhausted) {
          val blockDeltas = (for (dx <- -r to r; dy <- -r to r)
            yield dx.toLong * Tiling.Mul + dy).toArray
          unresolved
            .withColumn("__delta", explode(typedLit(blockDeltas)))
            .withColumn("__ccell", col("cell") + col("__delta"))
            .join(ptsB, col("__ccell") === col("bcell"))
            .filter(col("gid") =!= col("bgid"))
        } else {
          broadcast(unresolved).crossJoin(ptsB)
            .filter(col("gid") =!= col("bgid"))
        }
      val rr = r; val ex = exhausted
      val topk = cand.select(col("gid"), col("x"), col("y"),
          col("bgid"), col("bx"), col("by"))
        .as[(Long, Double, Double, Long, Double, Double)]
        .groupByKey(_._1)
        .mapGroups { (gid, it) =>
          val heap = new TopK(k)
          var x = 0.0; var y = 0.0
          it.foreach { c =>
            x = c._2; y = c._3
            heap.offer(distOf(cfg)(x, y, c._5, c._6), c._4)
          }
          val (nbrs, dists) = heap.sortedOut()
          val certified = ex ||
            (heap.size == k && heap.kth < certBound(cfg, s, rr, y))
          (gid, x, y, nbrs, dists, certified)
        }.toDF("gid", "x", "y", "nbrs", "dists", "certified").cache()
      loopCaches += topk
      done = done.unionByName(topk.filter(col("certified"))
        .select("gid", "x", "y", "nbrs", "dists"))
      if (exhausted) remaining = false
      else {
        // anti-join, NOT topk.filter(!certified): a point with zero
        // candidates in this radius is absent from topk entirely but
        // must stay unresolved
        unresolved = unresolved.join(
          topk.filter(col("certified")).select("gid"), Seq("gid"), "left_anti")
        remaining = unresolved.limit(1).count() > 0
        r *= 2
        if (r > 64) exhausted = true
      }
    }
    // Materialize once (one pass over the already-cached parents), then
    // release the internal caches — see graft.core.Materialize for the
    // rationale and the reliable-checkpoint cluster mode.
    graft.core.Materialize.releasing(done, round1 +: loopCaches.toSeq)
  }

  /** `knn_weights_sub(gid, geom, k, start, end)` parity
    * (`postgeoda/src/weights_knn.c:213-369`): kNN for gids in
    * [startGid, endGid) only — the reference's manual sharding device.
    * All points remain CANDIDATES but only the slice gets computed
    * (home-side pruning inside the group pass), so a 1% slice costs ~1%
    * of the heap work plus the fixed candidate shuffle.
    */
  def buildSub(points: DataFrame, conf: Conf, startGid: Long,
               endGid: Long): DataFrame =
    build(points, conf,
      Some(col("gid") >= startGid && col("gid") < endGid))

  /** Exploded `(gid, nbr, dist, rk)` pairs, rk 1..k by (dist, nbr) asc. */
  def pairs(points: DataFrame, conf: Conf): DataFrame =
    knnRows(points, conf)
      .select(col("gid"), posexplode(arrays_zip(col("nbrs"), col("dists"))))
      .select(col("gid"), col("col.nbrs").as("nbr"),
        col("col.dists").as("dist"), (col("pos") + 1).cast("int").as("rk"))

  /** Per-row weights `(gid, nbrs array<long>, wts array<double>)`;
    * `wts` null for plain binary kNN (GAL), populated for inverse-
    * distance / kernel variants (GWT). No extra shuffle — the arrays come
    * finished from the group pass.
    */
  def build(points: DataFrame, conf: Conf,
            homeFilter: Option[Column] = None): DataFrame = {
    val kernel = conf.kernel.map(Dist.kernelCol) // unknown name: fail before the kNN jobs
    val rows = knnRows(points, conf, homeFilter)
    val valued = conf.kernel.isDefined || conf.isInverse || conf.power != 1.0
    if (!valued)
      rows.select(col("gid"), col("nbrs"),
        lit(null).cast("array<double>").as("wts"))
    else kernel match {
      case Some(kv) =>
        val bw =
          if (conf.adaptiveBandwidth) element_at(col("dists"), -1)
          else lit(rows.agg(max(element_at(col("dists"), -1))).head().getDouble(0))
        // kernel weights include the diagonal (self) entry, matching the
        // reference's kernel handling (`sql/weights_knn.sql:40-46`,
        // `proxy.cpp:156-161` use_kernel_diagonal): self weight is
        // kernel(0) when useKernelDiagonals, else 1.0. Self sits first
        // (distance 0 precedes every neighbor in the sorted order).
        val diagW: Column =
          if (conf.useKernelDiagonals) kv(lit(0.0)) else lit(1.0)
        rows.select(col("gid"),
          concat(array(col("gid")), col("nbrs")).as("nbrs"),
          concat(array(diagW),
            transform(col("dists"), d => kv(d / bw))).as("wts"))
      case None =>
        rows.select(col("gid"), col("nbrs"), transform(col("dists"),
          d => Dist.powCol(d, conf.power, conf.isInverse)).as("wts"))
    }
  }
}
