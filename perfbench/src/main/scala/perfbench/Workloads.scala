package perfbench

import graft.core.Materialize
import graft.pipeline.{SpatialJoin, Webtext}
import graft.stats.{Lisa, TileLisa}
import graft.weights.KnnWeights
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One benchmark workload: inputs made in `setup`, then ops timed one at
  * a time by [[Loop.closed]]. */
trait Workload {
  /** Ops per round; a run stops only after whole rounds. */
  def round: Int
  /** Untimed rounds before the timed loop, until op walls stop falling. */
  def warmupRounds: Int
  /** Input rows one op processes (pages or points). */
  def rowsPerOp: Long
  /** Spans an op opens, in order, for the attribution check. */
  def opSpans: Seq[String]
  /** Makes and caches the inputs; work that is not repeated per op. */
  def setup(spark: SparkSession, seed: Long, spans: Spans): Unit
  /** Runs op `i` (timed) and returns its output check (untimed). */
  def op(i: Int, spans: Spans): () => Option[String]
}

object Workload {
  def apply(name: String): Workload = name match {
    case "north_rule" => new NorthRule
    case "lisa_panel" => new LisaPanel
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (north_rule, lisa_panel)")
  }

  /** (rows, order-independent hash of every output row). */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(bit_xor(xxhash64(df.columns.map(col): _*)),
      lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Check that `got` equals the fingerprint first seen under `key`. */
  def repeats(seen: scala.collection.mutable.Map[String, (Long, Long)],
              key: String, got: (Long, Long)): Option[String] = {
    val want = seen.getOrElseUpdate(key, got)
    if (want == got) None
    else Some(s"$key: (rows, checksum) $got differs from earlier $want")
  }
}

/** The paper's pipeline: pages → geocode → PIP join against a polygon
  * tiling → kNN(10) weights → local Moran (999 permutations, 'lookup').
  * One op is one full pipeline from the cached pages. */
final class NorthRule extends Workload {
  val Pages = 100000L
  val Grid = 50            // 2,500 polygons
  val VertsPerEdge = 16    // 64 vertices each
  val PipCell = 1.2        // a polygon spans 3-4 cells per axis
  val K = 10

  def round = 1
  // kNN op walls keep falling for the first 3-5 ops (JIT); two warm-ups
  // take the steepest part and keep a run inside its time budget
  def warmupRounds = 2
  def rowsPerOp: Long = Pages
  def opSpans: Seq[String] = Seq("pipeline.geocode", "pipeline.pip_join",
    "weights.knn_build", "stats.local_moran_lookup")

  private var pages: DataFrame = _
  private var polys: DataFrame = _
  private val seen = scala.collection.mutable.Map.empty[String, (Long, Long)]

  def setup(spark: SparkSession, seed: Long, spans: Spans): Unit = {
    pages = Inputs.pages(spark, Pages, seed).cache()
    polys = Inputs.tiling(spark, Grid, VertsPerEdge, seed).cache()
    pages.count(); polys.count()
  }

  def op(i: Int, spans: Spans): () => Option[String] = {
    val geo = spans("pipeline.geocode") {
      val g = Webtext.geocode(pages, PipCell).cache(); g.count(); g
    }
    val joined = spans("pipeline.pip_join") {
      SpatialJoin.pip(geo, polys, PipCell).count()
    }
    spans.rows("pipeline.pip_join", joined)
    val (w, nw) = spans("weights.knn_build") {
      val knnCell = Inputs.Domain / math.sqrt(Pages.toDouble / K)
      val w = KnnWeights.build(geo.select("gid", "x", "y"),
        KnnWeights.Conf(k = K, cellSize = Some(knnCell)))
      (w, w.count())
    }
    spans.rows("weights.knn_build", nw)
    val moran = spans("stats.local_moran_lookup") {
      Lisa.localMoran(
        geo.select(col("gid"), length(col("text")).cast("double").as("value")),
        w, Lisa.Conf(permMethod = "lookup"))
    }
    () => {
      val fp = Workload.fingerprint(moran)
      geo.unpersist(); Materialize.release(w); Materialize.release(moran)
      if (joined != Pages) Some(s"PIP join returned $joined rows for $Pages pages")
      else Workload.repeats(seen, "local_moran_lookup", fp)
    }
  }
}

/** Eight LISA statistics over cached kNN(8) weights of clustered points,
  * cycled: the broadcast engine ('complete' and 'lookup') and the tile
  * engine. One op is one statistic. */
final class LisaPanel extends Workload {
  val Points = 20000L
  val K = 8
  val Tiles = 5            // tile edge 36: 25 tiles
  val HotSpots = 4
  val HotShare = 0.4

  private val complete = Lisa.Conf()
  private val lookup = Lisa.Conf(permMethod = "lookup")
  private val stats: Seq[(String, (DataFrame, DataFrame, DataFrame, DataFrame) => DataFrame)] = Seq(
    "stats.local_moran" -> ((_, v, _, w) => Lisa.localMoran(v, w, complete)),
    "stats.local_geary" -> ((_, v, _, w) => Lisa.localGeary(v, w, complete)),
    "stats.local_gstar" -> ((_, v, _, w) => Lisa.localG(v, w, star = true, complete)),
    "stats.local_joincount" -> ((_, _, b, w) => Lisa.localJoinCount(b, w, complete)),
    "stats.local_moran_lookup" -> ((_, v, _, w) => Lisa.localMoran(v, w, lookup)),
    "stats.quantile_lisa" -> ((_, v, _, w) => Lisa.quantileLisa(5, 5, v, w, lookup)),
    "stats.tile_moran" -> ((p, v, _, w) =>
      TileLisa.run(TileLisa.Moran, p, v, w, Inputs.Domain / Tiles, lookup)),
    "stats.tile_geary" -> ((p, v, _, w) =>
      TileLisa.run(TileLisa.Geary, p, v, w, Inputs.Domain / Tiles, lookup)))

  def round: Int = stats.size
  def warmupRounds = 1
  def rowsPerOp: Long = Points
  def opSpans: Seq[String] = stats.map(_._1)

  private var points: DataFrame = _
  private var values: DataFrame = _
  private var binary: DataFrame = _
  private var weights: DataFrame = _
  private val seen = scala.collection.mutable.Map.empty[String, (Long, Long)]

  def setup(spark: SparkSession, seed: Long, spans: Spans): Unit = {
    val pts = Inputs.clustered(spark, Points, Tiles, HotSpots, HotShare, seed).cache()
    pts.count()
    points = pts.select("gid", "x", "y")
    values = pts.select("gid", "value")
    binary = pts.select(col("gid"), (col("value") > 18.0).cast("double").as("value"))
    val (w, nw) = spans("weights.knn_build") {
      val w = KnnWeights.build(points, KnnWeights.Conf(k = K)).cache()
      (w, w.count())
    }
    spans.rows("weights.knn_build", nw)
    weights = w
  }

  def op(i: Int, spans: Spans): () => Option[String] = {
    val (name, stat) = stats(i % stats.size)
    val out = spans(name)(stat(points, values, binary, weights))
    () => {
      val fp = Workload.fingerprint(out)
      Materialize.release(out)
      Workload.repeats(seen, name, fp)
    }
  }
}
