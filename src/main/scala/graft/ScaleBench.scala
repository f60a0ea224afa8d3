package graft

import graft.stats.Lisa
import graft.weights.KnnWeights
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Throughput benchmark at reference-comparable row counts
  * (BASELINE.md: knn(10) build 1M rows = 23.1s ≈ 43k rows/s;
  * local_moran 10M ≈ 43k rows/s; local_joincount 1M = 45.4s).
  *
  * Synthesizes N uniform points via spark.range + xxhash64 (no data
  * files — generation is part of the measured pipeline's input stage,
  * excluded from stage timings), then times:
  *   knn10 build → local_moran(999 perms, seed 123456789) →
  *   local_joincount — each fully materialized.
  *
  * Env: SPARK_GRAFT_SCALE_N (default 1,000,000), SPARK_GRAFT_CPUS.
  * Prints one JSON line with seconds + rows/s per stage.
  */
object ScaleBench {
  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("SPARK_GRAFT_SCALE_N", "1000000").toLong
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-scalebench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val side = 1000.0 // domain side → ~n/1e6 pts per unit cell at n=1M
      val points = spark.range(n).select(
          col("id").as("gid"),
          (pmod(xxhash64(col("id")), lit(1000000L)).cast("double") / 1e6 * side).as("x"),
          (pmod(xxhash64(col("id"), lit(1)), lit(1000000L)).cast("double") / 1e6 * side).as("y"))
        .cache()
      points.count() // materialize input outside the timed stages

      def time[A](f: => A): (A, Double) = {
        val t0 = System.nanoTime()
        val r = f
        (r, (System.nanoTime() - t0) / 1e9)
      }
      // SPARK_GRAFT_SCALE_ONLY=moran,moran_lookup,joincount times just
      // those stages (others report -1) — the scaling-GATE protocol
      // needs many interleaved cpus=2/cpus=8 pairs of the three gated
      // kernels, and paying the tile stages (documented sub-gate
      // fixed-latency walls since r3) on every pair triples the sweep
      // cost for no new information. Same hygiene as TextBench's
      // SPARK_GRAFT_TEXT_ONLY. knn always runs: it builds the weights
      // every gated kernel consumes.
      val only: Option[Set[String]] = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      def gate(name: String)(f: => Double): Double =
        if (only.forall(_.contains(name))) f else -1.0

      val k = 10
      val cell = side / math.sqrt(n.toDouble / k) // ~k pts per cell
      val (w, tKnn) = time {
        val wdf = KnnWeights.build(points,
          KnnWeights.Conf(k = k, cellSize = Some(cell))).cache()
        wdf.count()
        wdf
      }
      val vals = points.select(col("gid"),
        pmod(xxhash64(col("gid"), lit(2)), lit(1000L)).cast("double").as("value"))
      val tMoran = gate("moran")(time {
        Lisa.localMoran(vals, w).agg(sum("stat")).head()
      }._2)
      // the reference's DEFAULT perm method (lookup, proxy.cpp:315):
      // shared draw table, ~numObs x less RNG work
      val tMoranLk = gate("moran_lookup")(time {
        Lisa.localMoran(vals, w, Lisa.Conf(permMethod = "lookup"))
          .agg(sum("stat")).head()
      }._2)
      // stage breakdown of the lookup floor: driver gather vs kernel
      val tGather = gate("gather")(time { Lisa.gather(Lisa.asVals(vals, "value")) }._2)
      val binVals = points.select(col("gid"),
        (pmod(xxhash64(col("gid"), lit(3)), lit(2L))).cast("double").as("value"))
      val tJc = gate("joincount")(time {
        Lisa.localJoinCount(binVals, w).agg(sum("stat")).head()
      }._2)
      // beyond-broadcast execution mode: per-tile windows (TileLisa,
      // reference window-trim semantics) — zero broadcast/gather, the
      // path LISA takes past ~10^8 rows. Timed over the same weights.
      val tileSize = side / 8.0 // 64 super-tiles
      val tTile = gate("tile_moran")(time {
        graft.stats.TileLisa.localMoran(points, vals, w, tileSize)
          .agg(sum("stat")).head()
      }._2)
      val tTileLk = gate("tile_moran_lookup")(time {
        graft.stats.TileLisa.localMoran(points, vals, w, tileSize,
          Lisa.Conf(permMethod = "lookup"))
          .agg(sum("stat")).head()
      }._2)
      // the round-4 tile-mode additions: multivariate + quantile
      // families at the same scale, lookup mode (the unbounded path)
      val mvals = points.select(col("gid"), array(
        pmod(xxhash64(col("gid"), lit(2)), lit(1000L)).cast("double"),
        pmod(xxhash64(col("gid"), lit(5)), lit(1000L)).cast("double"))
        .as("vals"))
      val tTileMg = gate("tile_multigeary")(time {
        graft.stats.TileLisa.runMulti(graft.stats.TileLisa.MultiGeary,
          points, mvals, w, tileSize, Lisa.Conf(permMethod = "lookup"))
          .agg(sum("stat")).head()
      }._2)
      val tTileQl = gate("tile_quantile")(time {
        graft.stats.TileLisa.run(graft.stats.TileLisa.Quantile(5, 5),
          points, vals, w, tileSize, Lisa.Conf(permMethod = "lookup"))
          .agg(sum("stat")).head()
      }._2)
      val rate = (t: Double) => if (t > 0) math.round(n / t) else -1L
      println(
        s"""{"metric":"scale_pipeline","n":$n,"cpus":"$cpus","unit":"sec","knn10_sec":$tKnn,"knn10_rows_per_sec":${rate(tKnn)},"moran_sec":$tMoran,"moran_rows_per_sec":${rate(tMoran)},"moran_lookup_sec":$tMoranLk,"moran_lookup_rows_per_sec":${rate(tMoranLk)},"gather_sec":$tGather,"joincount_sec":$tJc,"joincount_rows_per_sec":${rate(tJc)},"tile_moran_sec":$tTile,"tile_moran_rows_per_sec":${rate(tTile)},"tile_moran_lookup_sec":$tTileLk,"tile_moran_lookup_rows_per_sec":${rate(tTileLk)},"tile_multigeary_lookup_sec":$tTileMg,"tile_multigeary_lookup_rows_per_sec":${rate(tTileMg)},"tile_quantile_lookup_sec":$tTileQl,"tile_quantile_lookup_rows_per_sec":${rate(tTileQl)}}""")
    } finally spark.stop()
  }
}
