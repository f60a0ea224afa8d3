package perfbench

import graft.core.Wkb
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded inputs. The same seed gives the same rows under any
  * partitioning: every value is a function of (seed, row id). */
object Inputs {
  /** Side of the square domain `Webtext.geocode` maps urls into. */
  val Domain = 180.0

  private def rng(seed: Long, key: Long): java.util.SplittableRandom =
    new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ key)

  /** `(url, text)` web pages. The seed is part of every url, so each seed
    * geocodes to another point set; text length varies per page and is
    * the analysis variable of the pipeline's Moran stage. */
  def pages(spark: SparkSession, n: Long, seed: Long): DataFrame =
    spark.range(n).select(
      concat(lit("https://site-"),
        pmod(xxhash64(col("id"), lit(seed)), lit(9973L)).cast("string"),
        lit(s".example/s$seed/page/"), col("id").cast("string")).as("url"),
      repeat(lit("w "),
        (pmod(xxhash64(col("id"), lit(seed + 1)), lit(40L)) + 1).cast("int"))
        .as("text"))

  /** `(pid, geom)` tiling of the geocode domain: a `g`×`g` grid whose
    * nodes are jittered and whose edges wiggle through `perEdge - 1`
    * extra vertices, so each polygon has `4 * perEdge` vertices off the
    * geocode's 0.01 lattice. Neighbours share their edge vertex for
    * vertex, so every point of the domain lies in exactly one polygon.
    * The outer ring sits just outside the domain. */
  def tiling(spark: SparkSession, g: Int, perEdge: Int, seed: Long): DataFrame = {
    val w = Domain / g
    def border(i: Int): Boolean = i == 0 || i == g
    def coord(i: Int, j: Int, axis: Int): Double = {
      val k = if (axis == 0) i else j
      if (k == 0) -1.0
      else if (k == g) Domain + 1.0
      else k * w + (rng(seed, (i * 4099L + j) * 2 + axis).nextDouble() - 0.5) * 0.4 * w
    }
    val node = Array.tabulate(g + 1, g + 1)((i, j) => (coord(i, j, 0), coord(i, j, 1)))
    // vertices of the edge from node a to node b, a included, b excluded;
    // `key` names the edge, so both neighbours draw the same wiggle
    def edge(a: (Double, Double), b: (Double, Double), key: Long,
             straight: Boolean): Seq[(Double, Double)] = {
      val (dx, dy) = (b._1 - a._1, b._2 - a._2)
      val len = math.hypot(dx, dy)
      val r = rng(seed + 7, key)
      a +: (1 until perEdge).map { s =>
        val t = s.toDouble / perEdge
        val off =
          if (straight) 0.0
          else (r.nextDouble() - 0.5) * 0.2 * w * math.sin(math.Pi * t)
        (a._1 + t * dx - off * dy / len, a._2 + t * dy + off * dx / len)
      }
    }
    def hEdge(i: Int, j: Int) =
      edge(node(i)(j), node(i + 1)(j), (i * 4099L + j) * 2, border(j))
    def vEdge(i: Int, j: Int) =
      edge(node(i)(j), node(i)(j + 1), (i * 4099L + j) * 2 + 1, border(i))
    def reversed(e: Seq[(Double, Double)], end: (Double, Double)) =
      (e.tail :+ end).reverse
    val polys = for (i <- 0 until g; j <- 0 until g) yield {
      val ring = hEdge(i, j) ++ vEdge(i + 1, j) ++
        reversed(hEdge(i, j + 1), node(i + 1)(j + 1)) ++
        reversed(vEdge(i, j), node(i)(j + 1))
      (i.toLong * g + j, Wkb.writePolygon(ring.toArray))
    }
    spark.createDataFrame(polys).toDF("pid", "geom")
  }

  /** `(gid, x, y, value)` points: `hotShare` of them in `hot` Gaussian
    * hot spots, each centred in its own tile of a `tiles`×`tiles` grid
    * and clipped to it, the rest uniform over the domain. Which tiles are
    * hot depends on the seed; how many points each tile holds does not,
    * so per-tile load is as uneven on every seed. Values are positive and
    * higher inside hot spots. */
  def clustered(spark: SparkSession, n: Long, tiles: Int, hot: Int,
                hotShare: Double, seed: Long): DataFrame = {
    import spark.implicits._
    val tw = Domain / tiles
    val hotTiles = {
      val r = rng(seed, -1L)
      val all = Array.range(0, tiles * tiles)
      for (k <- all.indices.reverse) {
        val m = r.nextInt(k + 1); val t = all(k); all(k) = all(m); all(m) = t
      }
      all.take(hot)
    }
    val nHot = (n * hotShare).toLong
    spark.range(0, n, 1, spark.sparkContext.defaultParallelism).as[Long].map { id =>
      val r = rng(seed, id)
      if (id < nHot) {
        val t = hotTiles((id % hot).toInt)
        val (cx, cy) = ((t % tiles + 0.5) * tw, (t / tiles + 0.5) * tw)
        def at(c: Double) =
          math.min(math.max(c + r.nextGaussian() * tw / 8, c - tw / 2 + 1e-6),
            c + tw / 2 - 1e-6)
        (id, at(cx), at(cy), 20.0 + 4.0 * r.nextGaussian().abs)
      } else
        (id, r.nextDouble() * Domain, r.nextDouble() * Domain,
          10.0 + 4.0 * r.nextGaussian().abs)
    }.toDF("gid", "x", "y", "value")
  }
}
