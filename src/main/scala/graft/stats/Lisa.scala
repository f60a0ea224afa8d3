package graft.stats

import graft.core.Stat0
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types._

/** Distributed LISA execution.
  *
  * The reference computes every local statistic over a whole PG window
  * partition materialized in RAM (`postgeoda/src/localmoran.c:43-131`).
  * The Spark shape (SURVEY §3.4): global moments by aggregation, the
  * standardized value vector broadcast to executors (the permutation step
  * must read z-values of uniformly drawn ids, so each task needs the full
  * vector), then a shuffle-free `mapPartitions` over the weights rows
  * running the per-row seeded kernel. Output is bit-identical under any
  * partitioning because each row's permutation stream depends only on
  * (seed, idx).
  *
  * Broadcast mode holds 16 bytes/row (gid + z) — fine to ~100M rows. At
  * the 10^12 web-table scale the engine switches to per-tile windows,
  * which the reference itself defines via its window-trim semantics
  * (`postgeoda/src/binweight.cpp:137-207`, SURVEY §1.4): LISA over a
  * sub-window drops out-of-window neighbors and renumbers ids — i.e.
  * per-tile LISA is reference-exact behavior, not an approximation.
  */
object Lisa {

  case class Conf(
      permutations: Int = 999,
      seed: Int = 123456789,
      cutoff: Double = 0.05,
      /** scale method for multivariate stats (lisa.h:139-159) */
      scaleMethod: String = "standardize",
      /** 'complete' (per-row stream, bit-reproducible parity default) or
        * 'lookup' (shared draw table — the reference's own default,
        * `proxy.cpp:315-316`; ~numObs× less RNG work, statistically
        * equivalent p-values). Both are deterministic and
        * partitioning-invariant.
        */
      permMethod: String = "complete") {
    require(permMethod == "complete" || permMethod == "lookup",
      "Permutation method has to be one of: complete, lookup (lisa.h:216-263)")
  }

  val outSchema: StructType = StructType(Seq(
    StructField("gid", LongType), StructField("stat", DoubleType),
    StructField("p", DoubleType), StructField("c", DoubleType)))

  /** Wrap value columns as the (gid, vals: array<double>) frame both
    * engines read, e.g. `asVals(values, "value", "value2")`.
    */
  def asVals(values: DataFrame, cols: String*): DataFrame =
    values.select(col("gid"),
      array(cols.map(c => col(c).cast("double")): _*).as("vals"))

  /** Raw read of one (gid, vals) pair at ordinals (at, at+1), shared by
    * both engines' row passes. The raw pass skips typed decoding, so
    * nulls are rejected here, naming the gid (`toDoubleArray` would read
    * a null slot as 0.0).
    */
  private[stats] def readRow(row: InternalRow, at: Int): (Long, Array[Double]) = {
    require(!row.isNullAt(at), "null gid in value table")
    val gid = row.getLong(at)
    require(!row.isNullAt(at + 1), s"null value at gid $gid")
    val arr = row.getArray(at + 1)
    var k = 0
    while (k < arr.numElements()) {
      require(!arr.isNullAt(k), s"null value at gid $gid")
      k += 1
    }
    (gid, arr.toDoubleArray())
  }

  /** Column-major value matrix over gid-sorted rows: `mat(v)(i)` is
    * variable v at `gids(i)`. Rejects duplicate gids and ragged rows.
    */
  private[stats] def matrix(gids: Array[Long],
      rows: Array[Array[Double]]): Array[Array[Double]] = {
    val n = gids.length
    var i = 1
    while (i < n) {
      require(gids(i) != gids(i - 1), s"duplicate gid ${gids(i)} in value table")
      i += 1
    }
    val nv = rows(0).length
    require(nv > 0, s"empty vals array at gid ${gids(0)}")
    val mat = Array.ofDim[Double](nv, n)
    i = 0
    while (i < n) {
      val r = rows(i)
      require(r.length == nv,
        s"ragged vals array at gid ${gids(i)} ($nv vs ${r.length})")
      var v = 0
      while (v < nv) { mat(v)(i) = r(v); v += 1 }
      i += 1
    }
    mat
  }

  /** Collect a (gid, vals) frame → (gids ascending, column-major
    * [[matrix]]): the broadcast build step. Rows are packed per partition
    * on the executors (raw InternalRow reads, no boxed decoding), then
    * sorted once by gid in the calling process.
    */
  def gather(values: DataFrame): (Array[Long], Array[Array[Double]]) = {
    val src = values.select(col("gid").cast("long"),
      col("vals").cast("array<double>"))
    val parts = ColumnShim.toInternalRdd(src).mapPartitions { it =>
      val gs = Array.newBuilder[Long]
      val vs = Array.newBuilder[Array[Double]]
      it.foreach { row => val (g, v) = readRow(row, 0); gs += g; vs += v }
      Iterator.single((gs.result(), vs.result()))
    }.collect()
    val rawG = parts.flatMap(_._1)
    val rawV = parts.flatMap(_._2)
    require(rawG.nonEmpty, "empty value table")
    // primitive sort + binary-search placement: no boxed comparator
    val gids = rawG.clone()
    java.util.Arrays.sort(gids)
    val rows = new Array[Array[Double]](gids.length)
    var i = 0
    while (i < rawG.length) {
      rows(java.util.Arrays.binarySearch(gids, rawG(i))) = rawV(i)
      i += 1
    }
    (gids, matrix(gids, rows))
  }

  /** Kernel scratch for `numObs` observations whose widest neighbor list
    * has `maxK` entries. 'lookup' shares one draw table sized by `maxK`;
    * its shift trick needs 0 < maxK < numObs-1, so dense or tiny inputs
    * fall back to 'complete'.
    */
  private[stats] def newScratch(conf: Conf, numObs: Int,
      maxK: Int): LisaKernels.Scratch = {
    val lt =
      if (conf.permMethod == "lookup" && maxK > 0 && maxK < numObs - 1)
        new LisaKernels.LookupTable(numObs, maxK, conf.permutations, conf.seed)
      else null
    new LisaKernels.Scratch(numObs, 65536, lt)
  }

  /** The broadcast engine: gather the whole (gid, vals) table, prepare
    * `stat` over it once, then run its kernel over the weights rows
    * (gid, nbrs array<long>) with the gids broadcast. Output (gid, stat,
    * p, c).
    *
    * In 'lookup' mode the shared draw table must be sized by the GLOBAL
    * max neighbor count (the stream consumed per permutation depends on
    * it), so one cheap agg precomputes it — then every partition rebuilds
    * the identical table locally from (seed, numObs, maxK): no broadcast
    * needed, still partitioning-invariant.
    */
  private def run(stat: TileLisa.Stat, values: DataFrame,
      weights: DataFrame, conf: Conf): DataFrame = {
    val (gids, mat) = gather(values)
    val kernel = stat.prepare(mat, gids, conf)
    val spark = weights.sparkSession
    val bGids = spark.sparkContext.broadcast(gids)
    val numObs = gids.length
    val maxK =
      if (conf.permMethod != "lookup") 0
      else weights.agg(max(size(col("nbrs")))).head().getInt(0)
    // raw InternalRow pass (as in the kNN group stage): neighbor arrays
    // read straight out of UnsafeRows into primitive buffers — no boxed
    // Seq[Long] per row on the permutation hot path
    val src = weights.select(col("gid").cast("long"), col("nbrs"))
    val outRdd = ColumnShim.toInternalRdd(src).mapPartitions { it =>
      val g = bGids.value
      val scratch = newScratch(conf, numObs, maxK)
      it.map { row: InternalRow =>
        val gid = row.getLong(0)
        val idx = java.util.Arrays.binarySearch(g, gid)
        require(idx >= 0, s"gid $gid not present in value table")
        val nbrGids: Array[Long] =
          if (row.isNullAt(1)) Array.emptyLongArray
          else row.getArray(1).toLongArray()
        val nbrs = new Array[Int](nbrGids.length)
        var i = 0
        while (i < nbrGids.length) {
          val j = java.util.Arrays.binarySearch(g, nbrGids(i))
          require(j >= 0, s"neighbor gid ${nbrGids(i)} not in value table")
          nbrs(i) = j; i += 1
        }
        val t = kernel(idx, nbrs, scratch)
        new GenericInternalRow(Array[Any](gid, t.stat, t.p, t.c)): InternalRow
      }
    }
    // materialize the kernel output once (4 fixed-width columns per
    // row): every declared consumer sorts the result, and a range-
    // partitioned sort SAMPLES its child — without this the
    // O(rows × k × permutations) kernel executes twice per query
    // (the same double-execution TileLisa.runMulti fixes; guide §1.4)
    graft.core.Materialize.releasing(
      ColumnShim.internalDf(spark, outRdd, outSchema), Nil)
  }

  /** `local_moran_fast` parity (`postgeoda/src/localmoran.c:149-221`,
    * `proxy.cpp:350-458`): the statistic + p for ONE observation given
    * the full value vector — the reference's only distribution-ready
    * operator, and the per-row kernel the distributed path runs. Values
    * must be the complete vector in gid order.
    */
  def localMoranFast(idx: Int, nbrIdxs: Array[Int], values: Array[Double],
                     conf: Conf = Conf()): (Double, Double) = {
    val kernel = TileLisa.Moran.prepare(Array(values),
      Array.tabulate(values.length)(_.toLong), conf)
    val t = kernel(idx, nbrIdxs,
      new LisaKernels.Scratch(values.length, math.max(1, nbrIdxs.length)))
    (t.stat, t.p)
  }

  /** Local Moran's I → (gid, stat=I, p, c=cluster). */
  def localMoran(values: DataFrame, weights: DataFrame, conf: Conf = Conf()): DataFrame =
    run(TileLisa.Moran, asVals(values, "value"), weights, conf)

  /** `local_moran_b` (`moran.sql:36-43`; the reference marks it
    * to-be-deprecated but it is still part of its SQL surface): local
    * Moran with the spatial weights passed as ONE whole GAL/GWT blob
    * instead of a per-row weights table. Spark-side this is pure
    * composition — decode the blob (`WeightsCodec.decodeWhole`) into
    * the standard weights frame and run the normal kernel; output is
    * identical to `localMoran` over the same graph.
    */
  def localMoranB(values: DataFrame, wholeBlob: Array[Byte],
                  conf: Conf = Conf()): DataFrame = {
    val spark = values.sparkSession
    import spark.implicits._
    val recs = graft.weights.WeightsCodec.decodeWhole(wholeBlob)._2
    val weights = recs.map { case (g, nbrs, w) =>
      (g, nbrs.toSeq, w.map(_.map(_.toDouble).toSeq)) }
      .toDF("gid", "nbrs", "wts")
    localMoran(values, weights, conf)
  }

  /** Bivariate local Moran over `(gid, value, value2)` — z_x(i) times
    * the neighbor lag of z_y, conditional permutation over z_y (GeoDa's
    * bivariate LISA; a GeoDa-surface companion beyond postgeoda's SQL
    * exports). `value2 == value` reduces bit-identically to
    * [[localMoran]].
    */
  def localBiMoran(values: DataFrame, weights: DataFrame,
                   conf: Conf = Conf()): DataFrame =
    run(TileLisa.BiMoran, asVals(values, "value", "value2"), weights, conf)

  /** Getis-Ord G_i / G_i* → (gid, stat, p, c). */
  def localG(values: DataFrame, weights: DataFrame, star: Boolean,
             conf: Conf = Conf()): DataFrame =
    run(if (star) TileLisa.GStar else TileLisa.G, asVals(values, "value"), weights, conf)

  def localGeary(values: DataFrame, weights: DataFrame, conf: Conf = Conf()): DataFrame =
    run(TileLisa.Geary, asVals(values, "value"), weights, conf)

  /** Multivariate Geary over `vals: array<double>` column. */
  def localMultiGeary(values: DataFrame, weights: DataFrame,
                      conf: Conf = Conf()): DataFrame =
    run(TileLisa.MultiGeary, values, weights, conf)

  def localJoinCount(values: DataFrame, weights: DataFrame,
                     conf: Conf = Conf()): DataFrame =
    run(TileLisa.JoinCount, asVals(values, "value"), weights, conf)

  /** Bivariate join count; errors on co-location, replicating
    * `postgeoda/src/joincount.c:193-197`.
    */
  def localBiJoinCount(values: DataFrame /* gid, value, value2 */,
                       weights: DataFrame, conf: Conf = Conf()): DataFrame =
    run(TileLisa.BiJoinCount, asVals(values, "value", "value2"), weights, conf)

  /** Co-location join count over `vals: array<double>` of binary vars. */
  def localMultiJoinCount(values: DataFrame, weights: DataFrame,
                          conf: Conf = Conf()): DataFrame =
    run(TileLisa.MultiJoinCount, values, weights, conf)

  /** Quantile-bin membership indicator per GeoDa quantile classification:
    * breaks at percentiles 100*i/k (i=1..k-1), bin = 1 + #{breaks <= x}.
    */
  def quantileIndicator(vals: Array[Double], k: Int, q: Int): Array[Double] = {
    require(k >= 2 && q >= 1 && q <= k, s"quantile_lisa needs 1<=q<=k, k>=2")
    val sorted = vals.clone(); java.util.Arrays.sort(sorted)
    val breaks = (1 until k).map(i =>
      Stat0.percentileSorted(100.0 * i / k, sorted)).toArray
    vals.map { x =>
      var bin = 1
      var b = 0
      while (b < breaks.length && x >= breaks(b)) { bin += 1; b += 1 }
      if (bin == q) 1.0 else 0.0
    }
  }

  /** Quantile LISA (`postgeoda/src/quantilelisa.c:37-140`): binarize by
    * quantile-bin membership, then local join count.
    */
  def quantileLisa(k: Int, q: Int, values: DataFrame, weights: DataFrame,
                   conf: Conf = Conf()): DataFrame =
    run(TileLisa.Quantile(k, q), asVals(values, "value"), weights, conf)

  /** Multivariate quantile LISA: AND of per-variable bin indicators, then
    * join count (`quantilelisa.c:143-300` / proxy_quantilelisa.cpp:61-115).
    */
  def multiQuantileLisa(ks: Array[Int], qs: Array[Int], values: DataFrame,
                        weights: DataFrame, conf: Conf = Conf()): DataFrame =
    run(TileLisa.MultiQuantile(ks.toSeq, qs.toSeq), values, weights, conf)
}
