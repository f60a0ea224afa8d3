package graft.stats

import graft.core.{Stat0, Tiling}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Per-tile LISA — the 10^12-row execution mode (SURVEY §7.5 option i).
  *
  * Broadcast-mode LISA needs the full z-vector on every executor, which
  * caps out around ~10^8 rows. Beyond that the engine partitions space
  * into super-tiles and runs the statistic independently per tile with
  * the reference's own window-trim semantics (`binweight.cpp:128-207`,
  * SURVEY §1.4): LISA over a sub-window DROPS neighbors outside the
  * window, RENUMBERS observations to window positions 0..N-1, and
  * standardizes over the window — so per-tile output is reference-defined
  * behavior (each tile IS a window), not an approximation of the global
  * statistic. The same argument extends to every window-level derivation:
  * quantile bins are computed over the window's values, multivariate
  * scaling per window, join-count binary validation per window row.
  *
  * Shape: one shuffle keyed by tile; each tile group is prepared by the
  * same [[Stat.prepare]] as the broadcast engine's whole table. Tiles are
  * independent → no broadcast, no global state, arbitrarily many tiles.
  *
  * All 12 reference LISA statistics are supported (the univariate five
  * — moran, g, g-star, geary, joincount — via [[run]]; the multivariate
  * and quantile families via [[runMulti]]).
  */
object TileLisa {

  /** One LISA statistic. [[prepare]] is its single definition, shared by
    * the broadcast engine ([[Lisa]], once over the whole table) and the
    * tile engine (once per window).
    */
  sealed trait Stat extends Serializable {

    /** Validate and derive everything the statistic needs from the
      * values — `mat` column-major over the observations in gid order
      * (`mat(v)(i)` is variable v at `gids(i)`; `mat` is not modified) —
      * and return the per-row kernel. Univariate statistics read
      * `mat(0)`.
      */
    def prepare(mat: Array[Array[Double]], gids: Array[Long],
        conf: Lisa.Conf): LisaKernels.Kernel = {
      val perms = conf.permutations
      val seed = conf.seed
      val cutoff = conf.cutoff
      def arity(nv: Int): Unit =
        require(mat.length == nv, s"$this needs $nv variables, got ${mat.length}")
      def standardized(x: Array[Double]): Array[Double] = Stat0.scale(x, "standardize")
      def sum(x: Array[Double]): Double = { var s = 0.0; x.foreach(s += _); s }
      def joinCount(x: Array[Double]): LisaKernels.Kernel =
        (i, nb, s) => LisaKernels.joinCount(i, nb, x, perms, seed, s)
      this match {
        case Moran =>
          val z = standardized(mat(0))
          (i, nb, s) => LisaKernels.moran(i, nb, z, perms, seed, cutoff, s)
        case Geary =>
          val z = standardized(mat(0))
          (i, nb, s) => LisaKernels.geary(i, nb, z, perms, seed, cutoff, s)
        case G =>
          val x = mat(0); val total = sum(x)
          (i, nb, s) => LisaKernels.localG(i, nb, x, total, perms, seed, cutoff, s)
        case GStar =>
          val x = mat(0); val total = sum(x)
          (i, nb, s) => LisaKernels.localGStar(i, nb, x, total, perms, seed,
            cutoff, s)
        case JoinCount =>
          requireBinary(mat(0), gids, "join count variable")
          joinCount(mat(0))
        case MultiGeary =>
          val zs = mat.map(Stat0.scale(_, conf.scaleMethod))
          (i, nb, s) => LisaKernels.multiGeary(i, nb, zs, perms, seed, cutoff, s)
        case BiMoran =>
          arity(2)
          val zx = standardized(mat(0)); val zy = standardized(mat(1))
          (i, nb, s) => LisaKernels.biMoran(i, nb, zx, zy, perms, seed, cutoff, s)
        case BiJoinCount =>
          arity(2)
          val x1 = mat(0); val x2 = mat(1)
          requireBinary(x1, gids, "bijoincount first variable")
          requireBinary(x2, gids, "bijoincount second variable")
          var j = 0
          while (j < gids.length) {
            // strict reference parity: joincount.c:193-197 errors whenever
            // r1[i] == r2[i] — including both-zero, not just co-located ones
            require(x1(j) != x2(j),
              "local bivariate join count works only when two events " +
                "cannot happen in the same location " +
                s"(joincount.c:193-197); x1 == x2 at gid ${gids(j)}")
            j += 1
          }
          (i, nb, s) => LisaKernels.biJoinCount(i, nb, x1, x2, perms, seed, s)
        case MultiJoinCount =>
          mat.indices.foreach(v =>
            requireBinary(mat(v), gids, s"multijoincount variable $v"))
          // co-location: prod_v(x_vi) × sum_nbr(prod_v(x_vj))
          joinCount(rowProduct(mat))
        case Quantile(k, q) =>
          joinCount(Lisa.quantileIndicator(mat(0), k, q))
        case MultiQuantile(ks, qs) =>
          require(ks.length == mat.length && qs.length == mat.length,
            "ks/qs/vars arity mismatch")
          joinCount(rowProduct(mat.indices.toArray.map(v =>
            Lisa.quantileIndicator(mat(v), ks(v), qs(v)))))
      }
    }
  }
  case object Moran extends Stat
  case object G extends Stat
  case object GStar extends Stat
  case object Geary extends Stat
  case object JoinCount extends Stat
  /** Multivariate Geary over `vals: array<double>` (q39 semantics). */
  case object MultiGeary extends Stat
  /** Bivariate Moran over vals = [x, y]: z_x × lag(z_y), both
    * standardized per window (window-trim semantics).
    */
  case object BiMoran extends Stat
  /** Bivariate join count over vals = [x1, x2]; errors on co-location
    * per window row (`postgeoda/src/joincount.c:193-197`).
    */
  case object BiJoinCount extends Stat
  /** Co-location join count over `vals: array<double>` of binary vars. */
  case object MultiJoinCount extends Stat
  /** Quantile LISA: per-WINDOW quantile binning (breaks at percentiles
    * 100*i/k over the window's values — the window-trim analogue of
    * `quantilelisa.c:37-140`), then local join count.
    */
  final case class Quantile(k: Int, q: Int) extends Stat
  /** Multivariate quantile LISA: AND of per-variable per-window bin
    * indicators, then join count (`quantilelisa.c:143-300`).
    */
  final case class MultiQuantile(ks: Seq[Int], qs: Seq[Int]) extends Stat

  private def requireBinary(x: Array[Double], gids: Array[Long],
      what: String): Unit = {
    var j = 0
    while (j < x.length) {
      require(x(j) == 0.0 || x(j) == 1.0,
        s"$what must be binary 0/1 (joincount.c semantics); " +
          s"found ${x(j)} at gid ${gids(j)}")
      j += 1
    }
  }

  /** Per-observation product over the variables of a column-major
    * matrix (co-location: all indicators set).
    */
  private def rowProduct(mat: Array[Array[Double]]): Array[Double] = {
    val prods = new Array[Double](mat(0).length)
    var j = 0
    while (j < prods.length) {
      var p = 1.0; var v = 0
      while (v < mat.length) { p *= mat(v)(j); v += 1 }
      prods(j) = p; j += 1
    }
    prods
  }

  /** Points per window when `tileSize <= 0`: the tile edge comes from
    * [[graft.core.Tiling.densityEdge]]. 100k rows/window keeps the
    * per-window kernel (O(rows × k × perms)) and its lookup table
    * comfortably inside one task while leaving ~n/100k tiles of
    * parallelism; callers with strong window-semantics opinions (each
    * tile IS a reference window) should pass an explicit `tileSize`.
    */
  val DefaultTileRows = 100000L

  /** Per-tile LISA for any univariate statistic.
    * points:  (gid, x, y) — tile assignment source
    * values:  (gid, value)
    * weights: (gid, nbrs)
    * tileSize: super-tile edge length (in coordinate units);
    *           <= 0 auto-sizes from point density ([[DefaultTileRows]]).
    * Output: (gid, tile, stat, p, c).
    */
  def run(stat: Stat, points: DataFrame, values: DataFrame,
          weights: DataFrame, tileSize: Double,
          conf: Lisa.Conf = Lisa.Conf()): DataFrame =
    runMulti(stat, points, Lisa.asVals(values, "value"), weights, tileSize, conf)

  /** Per-tile LISA over a multivariate value frame (gid, vals:
    * array<double>). Univariate statistics read vals(0).
    *
    * Execution: ONE shuffle — `repartition(tile)` +
    * `sortWithinPartitions(tile, gid)` — then a raw InternalRow pass
    * that slices consecutive same-tile runs into windows (arrays read
    * straight out of UnsafeRows; no boxed Seq encoders on the
    * 10^12-row path). Window order is gid-ascending by the sort, which
    * is exactly the order the kernels' per-row seed stream requires, so
    * output is bit-identical under any partitioning.
    */
  def runMulti(stat: Stat, points: DataFrame, values: DataFrame,
               weights: DataFrame, tileSize: Double,
               conf: Lisa.Conf = Lisa.Conf()): DataFrame = {
    val spark = points.sparkSession
    val ts = if (tileSize > 0) tileSize
      else Tiling.densityEdge(points, DefaultTileRows, col("x"), col("y"))
    val tiles = points.select(col("gid").cast("long"),
      Tiling.cellIdCol(col("x"), col("y"), ts).as("tile"))
    val joined = tiles
      .join(values.select(col("gid").cast("long"),
        col("vals").cast("array<double>").as("vals")), Seq("gid"))
      .join(weights.select(col("gid").cast("long"), col("nbrs")), Seq("gid"))
      .select(col("tile"), col("gid").cast("long").as("gid"), col("vals"),
        col("nbrs"))
      // 4× the session's shuffle width (the KnnWeights group-pass
      // convention): the kernel stage is compute-bound (O(rows × k ×
      // permutations) per window), and hashing a modest tile count into
      // exactly `numShufflePartitions` partitions stacks 2-3 windows on
      // one task while other cores idle — at 20 tiles / 32 partitions
      // the r8 probe measured the kernel job at ~0.9 s vs ~0.35 s of
      // max-window work. Wider hashing separates the windows; values
      // are partitioning-independent (per-window seed streams), so the
      // output is bit-identical under any width.
      .repartition(
        4 * points.sparkSession.sessionState.conf.numShufflePartitions,
        col("tile"))
      .sortWithinPartitions("tile", "gid")

    val outRdd = ColumnShim.toInternalRdd(joined).mapPartitions { it =>
      val rowsIt = it.buffered
      new Iterator[InternalRow] {
        private var window: Iterator[InternalRow] = Iterator.empty
        override def hasNext: Boolean = {
          while (!window.hasNext && rowsIt.hasNext) window = nextWindow()
          window.hasNext
        }
        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException
          window.next()
        }
        /** Consume one consecutive same-tile run into a window. */
        private def nextWindow(): Iterator[InternalRow] = {
          val tile = rowsIt.head.getLong(0)
          val gidsB = Array.newBuilder[Long]
          val valsB = Array.newBuilder[Array[Double]]
          val nbrsB = Array.newBuilder[Array[Long]]
          while (rowsIt.hasNext && rowsIt.head.getLong(0) == tile) {
            val row = rowsIt.next()
            // the raw pass reads the tile with getLong, which would
            // silently decode a null slot as 0 and contaminate tile 0
            require(!row.isNullAt(0),
              "null tile in TileLisa input (null x/y in points?)")
            val (gid, vals) = Lisa.readRow(row, 1)
            gidsB += gid
            valsB += vals
            nbrsB += (if (row.isNullAt(3)) Array.emptyLongArray
                      else row.getArray(3).toLongArray())
          }
          windowKernel(stat, conf, tile, gidsB.result(), valsB.result(),
            nbrsB.result())
        }
      }
    }
    val schema = StructType(Lisa.outSchema.fields.head +:
      StructField("tile", LongType) +: Lisa.outSchema.fields.tail)
    // materialize the kernel output ONCE (5 fixed-width columns per
    // row — tiny next to the permutation work that produced it): every
    // caller of this 10^12-row path sorts or joins the result, and a
    // range-partitioned sort SAMPLES its child first — without this the
    // O(rows × k × permutations) kernel executes twice per query (the
    // r8 job-listener probe measured 2 × ~0.85 s of an ~2.1 s tile
    // query inside the duplicated kernel jobs; guide §1.4/§2.4)
    graft.core.Materialize.releasing(
      ColumnShim.internalDf(spark, outRdd, schema), Nil)
  }

  /** Run one tile window (rows already gid-sorted): the statistic is
    * prepared over the window exactly as the broadcast engine prepares
    * it over the whole table (window-trim semantics, see object doc).
    */
  private def windowKernel(stat: Stat, conf: Lisa.Conf, tile: Long,
      gids: Array[Long], rowVals: Array[Array[Double]],
      nbrGids: Array[Array[Long]]): Iterator[InternalRow] = {
    val kernel = stat.prepare(Lisa.matrix(gids, rowVals), gids, conf)
    // window-trim all rows first: drop neighbors not present in this
    // tile (binweight.cpp:153-183 semantics), remap to window
    // positions — and learn the window's max degree so 'lookup' mode
    // can size its shared draw table (per window, exactly as the
    // broadcast engine sizes it globally)
    val trimmed = nbrGids.map { nbrs =>
      nbrs.iterator
        .map(nb => java.util.Arrays.binarySearch(gids, nb))
        .filter(_ >= 0).toArray
    }
    var maxK = 0
    trimmed.foreach(a => if (a.length > maxK) maxK = a.length)
    val scratch = Lisa.newScratch(conf, gids.length, maxK)
    Iterator.range(0, gids.length).map { idx =>
      val t = kernel(idx, trimmed(idx), scratch)
      new GenericInternalRow(
        Array[Any](gids(idx), tile, t.stat, t.p, t.c)): InternalRow
    }
  }

  /** Local Moran per tile (back-compat entry point). */
  def localMoran(points: DataFrame, values: DataFrame, weights: DataFrame,
                 tileSize: Double, conf: Lisa.Conf = Lisa.Conf()): DataFrame =
    run(Moran, points, values, weights, tileSize, conf)
}
