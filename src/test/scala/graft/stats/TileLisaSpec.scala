package graft.stats

import graft.SparkFixture
import graft.core.Tiling
import graft.weights.KnnWeights
import org.apache.spark.sql.functions.{array, col}
import org.scalatest.funsuite.AnyFunSuite

class TileLisaSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark

  private def points(n: Int) = {
    import spark.implicits._
    (1 to n).map { i =>
      (i.toLong, (i * 193 % 997) * 0.13, (i * 499 % 991) * 0.17)
    }.toDF("gid", "x", "y")
  }
  private def values(n: Int) = {
    import spark.implicits._
    (1 to n).map(i => (i.toLong, (i * 37 % 101).toDouble)).toDF("gid", "value")
  }

  test("single giant tile equals broadcast-mode localMoran") {
    import spark.implicits._
    val pts = points(120)
    val w = KnnWeights.build(pts, KnnWeights.Conf(k = 4, cellSize = Some(4.0)))
    val v = values(120)
    val broadcastMode = Lisa.localMoran(v, w).orderBy("gid")
      .as[(Long, Double, Double, Double)].collect()
    // tile size covering the whole domain → one window == global window
    val tiled = TileLisa.localMoran(pts, v, w, tileSize = 1e6)
      .orderBy("gid")
      .select("gid", "stat", "p", "c")
      .as[(Long, Double, Double, Double)].collect()
    assert(tiled.sameElements(broadcastMode))
  }

  test("lookup mode: single tile equals broadcast lookup; multi-tile deterministic") {
    import spark.implicits._
    val pts = points(120)
    val w = KnnWeights.build(pts, KnnWeights.Conf(k = 4, cellSize = Some(4.0)))
    val v = values(120)
    val conf = Lisa.Conf(permMethod = "lookup")
    val broadcastMode = Lisa.localMoran(v, w, conf).orderBy("gid")
      .as[(Long, Double, Double, Double)].collect()
    val tiled = TileLisa.localMoran(pts, v, w, tileSize = 1e6, conf)
      .orderBy("gid").select("gid", "stat", "p", "c")
      .as[(Long, Double, Double, Double)].collect()
    assert(tiled.sameElements(broadcastMode),
      "one-window tile lookup must equal broadcast lookup bit-exactly")
    // multi-tile: per-window tables must be deterministic across runs
    // and across input partitioning
    val a = TileLisa.localMoran(pts, v, w, tileSize = 40.0, conf)
      .orderBy("gid").collect()
    val b = TileLisa.localMoran(pts.repartition(7), v.repartition(3), w,
        tileSize = 40.0, conf)
      .orderBy("gid").collect()
    assert(a.sameElements(b))
  }

  test("tileSize <= 0 auto-sizes from density and reproduces explicit-size output") {
    import spark.implicits._
    val pts = points(300)
    val w = KnnWeights.build(pts, KnnWeights.Conf(k = 4, cellSize = Some(4.0)))
    val v = values(300)
    // targetRows larger than n → one tile; the helper must agree with the
    // density formula and the auto run must equal the explicit-size run
    val s = Tiling.densityEdge(pts, TileLisa.DefaultTileRows, col("x"), col("y"))
    assert(s > 0)
    val auto = TileLisa.localMoran(pts, v, w, tileSize = 0.0)
      .orderBy("gid").collect()
    val explicit = TileLisa.localMoran(pts, v, w, tileSize = s)
      .orderBy("gid").collect()
    assert(auto.sameElements(explicit))
    // a small row target yields genuinely smaller tiles (more windows)
    val sSmall = Tiling.densityEdge(pts, 10, col("x"), col("y"))
    assert(sSmall < s)
    val nTiles = TileLisa.localMoran(pts, v, w, tileSize = sSmall)
      .select("tile").distinct().count()
    assert(nTiles > 1)
  }

  test("single tile equals broadcast mode for G*, Geary, join count") {
    import spark.implicits._
    val pts = points(100)
    val w = KnnWeights.build(pts, KnnWeights.Conf(k = 4, cellSize = Some(4.0)))
    val v = values(100)
    val gsB = Lisa.localG(v, w, star = true).orderBy("gid")
      .as[(Long, Double, Double, Double)].collect()
    val gsT = TileLisa.run(TileLisa.GStar, pts, v, w, tileSize = 1e6)
      .orderBy("gid").select("gid", "stat", "p", "c")
      .as[(Long, Double, Double, Double)].collect()
    assert(gsT.sameElements(gsB))
    val geB = Lisa.localGeary(v, w).orderBy("gid")
      .as[(Long, Double, Double, Double)].collect()
    val geT = TileLisa.run(TileLisa.Geary, pts, v, w, tileSize = 1e6)
      .orderBy("gid").select("gid", "stat", "p", "c")
      .as[(Long, Double, Double, Double)].collect()
    assert(geT.sameElements(geB))
    val bin = (1 to 100).map(i =>
      (i.toLong, if ((i * 13) % 7 < 3) 1.0 else 0.0)).toDF("gid", "value")
    val jcB = Lisa.localJoinCount(bin, w).orderBy("gid")
      .as[(Long, Double, Double, Double)].collect()
    val jcT = TileLisa.run(TileLisa.JoinCount, pts, bin, w, tileSize = 1e6)
      .orderBy("gid").select("gid", "stat", "p", "c")
      .as[(Long, Double, Double, Double)].collect()
    assert(jcT.sameElements(jcB))
  }

  test("single tile equals broadcast mode for the multivariate family") {
    import spark.implicits._
    val n = 100
    val pts = points(n)
    val w = KnnWeights.build(pts, KnnWeights.Conf(k = 4, cellSize = Some(4.0)))
    val mv = (1 to n).map(i => (i.toLong,
      Seq((i * 37 % 101).toDouble, (i * 17 % 1000).toDouble)))
      .toDF("gid", "vals")
    // multigeary
    val mgB = Lisa.localMultiGeary(mv, w).orderBy("gid")
      .as[(Long, Double, Double, Double)].collect()
    val mgT = TileLisa.runMulti(TileLisa.MultiGeary, pts, mv, w, tileSize = 1e6)
      .orderBy("gid").select("gid", "stat", "p", "c")
      .as[(Long, Double, Double, Double)].collect()
    assert(mgT.sameElements(mgB))
    // bivariate Moran (z_x × lag z_y, per-window standardization)
    val bm = (1 to n).map(i => (i.toLong, (i * 37 % 101).toDouble,
      (i * 17 % 1000).toDouble)).toDF("gid", "value", "value2")
    val bmB = Lisa.localBiMoran(bm, w).orderBy("gid")
      .as[(Long, Double, Double, Double)].collect()
    val bmT = TileLisa.runMulti(TileLisa.BiMoran, pts,
        bm.select(col("gid"),
          array(col("value"), col("value2")).as("vals")),
        w, tileSize = 1e6)
      .orderBy("gid").select("gid", "stat", "p", "c")
      .as[(Long, Double, Double, Double)].collect()
    assert(bmT.sameElements(bmB))
    // bivariate join count (complementary indicators → never co-located)
    val bi = (1 to n).map { i =>
      val x1 = if ((i * 13) % 7 < 3) 1.0 else 0.0
      (i.toLong, x1, 1.0 - x1)
    }.toDF("gid", "value", "value2")
    val bjB = Lisa.localBiJoinCount(bi, w).orderBy("gid")
      .as[(Long, Double, Double, Double)].collect()
    val bjT = TileLisa.runMulti(TileLisa.BiJoinCount, pts,
        bi.select(col("gid"), array(col("value"), col("value2")).as("vals")),
        w, tileSize = 1e6)
      .orderBy("gid").select("gid", "stat", "p", "c")
      .as[(Long, Double, Double, Double)].collect()
    assert(bjT.sameElements(bjB))
    // co-location (multivariate) join count
    val mjv = (1 to n).map { i =>
      (i.toLong, Seq(if ((i * 13) % 7 < 3) 1.0 else 0.0,
        if ((i * 11) % 5 < 2) 1.0 else 0.0))
    }.toDF("gid", "vals")
    val mjB = Lisa.localMultiJoinCount(mjv, w).orderBy("gid")
      .as[(Long, Double, Double, Double)].collect()
    val mjT = TileLisa.runMulti(TileLisa.MultiJoinCount, pts, mjv, w,
        tileSize = 1e6)
      .orderBy("gid").select("gid", "stat", "p", "c")
      .as[(Long, Double, Double, Double)].collect()
    assert(mjT.sameElements(mjB))
  }

  test("single tile equals broadcast mode for the quantile family") {
    import spark.implicits._
    val n = 100
    val pts = points(n)
    val w = KnnWeights.build(pts, KnnWeights.Conf(k = 4, cellSize = Some(4.0)))
    val v = values(n)
    val qB = Lisa.quantileLisa(5, 5, v, w).orderBy("gid")
      .as[(Long, Double, Double, Double)].collect()
    val qT = TileLisa.run(TileLisa.Quantile(5, 5), pts, v, w, tileSize = 1e6)
      .orderBy("gid").select("gid", "stat", "p", "c")
      .as[(Long, Double, Double, Double)].collect()
    assert(qT.sameElements(qB))
    val mv = (1 to n).map(i => (i.toLong,
      Seq((i * 37 % 101).toDouble, (i * 17 % 1000).toDouble)))
      .toDF("gid", "vals")
    val mqB = Lisa.multiQuantileLisa(Array(4, 4), Array(4, 1), mv, w)
      .orderBy("gid").as[(Long, Double, Double, Double)].collect()
    val mqT = TileLisa.runMulti(TileLisa.MultiQuantile(Seq(4, 4), Seq(4, 1)),
        pts, mv, w, tileSize = 1e6)
      .orderBy("gid").select("gid", "stat", "p", "c")
      .as[(Long, Double, Double, Double)].collect()
    assert(mqT.sameElements(mqB))
  }

  test("single tile equals broadcast mode for every Stat, both permMethods") {
    import spark.implicits._
    val n = 100
    val pts = points(n)
    val w = KnnWeights.build(pts, KnnWeights.Conf(k = 4, cellSize = Some(4.0)))
    val cont = (1 to n).map(i => (i.toLong,
      Seq((i * 37 % 101).toDouble, (i * 17 % 1000).toDouble))).toDF("gid", "vals")
    val bin = (1 to n).map(i => (i.toLong,
      Seq(if ((i * 13) % 7 < 3) 1.0 else 0.0, if ((i * 11) % 5 < 2) 1.0 else 0.0)))
      .toDF("gid", "vals")
    // complementary indicators → never co-located
    val comp = (1 to n).map { i =>
      val x1 = if ((i * 13) % 7 < 3) 1.0 else 0.0
      (i.toLong, Seq(x1, 1.0 - x1))
    }.toDF("gid", "vals")
    def first(mv: org.apache.spark.sql.DataFrame) =
      mv.select(col("gid"), col("vals")(0).as("value"))
    def pair(mv: org.apache.spark.sql.DataFrame) =
      mv.select(col("gid"), col("vals")(0).as("value"), col("vals")(1).as("value2"))
    type Broadcast = Lisa.Conf => org.apache.spark.sql.DataFrame
    val table = Seq[(TileLisa.Stat, org.apache.spark.sql.DataFrame, Broadcast)](
      (TileLisa.Moran, cont, c => Lisa.localMoran(first(cont), w, c)),
      (TileLisa.G, cont, c => Lisa.localG(first(cont), w, star = false, c)),
      (TileLisa.GStar, cont, c => Lisa.localG(first(cont), w, star = true, c)),
      (TileLisa.Geary, cont, c => Lisa.localGeary(first(cont), w, c)),
      (TileLisa.JoinCount, bin, c => Lisa.localJoinCount(first(bin), w, c)),
      (TileLisa.MultiGeary, cont, c => Lisa.localMultiGeary(cont, w, c)),
      (TileLisa.BiMoran, cont, c => Lisa.localBiMoran(pair(cont), w, c)),
      (TileLisa.BiJoinCount, comp, c => Lisa.localBiJoinCount(pair(comp), w, c)),
      (TileLisa.MultiJoinCount, bin, c => Lisa.localMultiJoinCount(bin, w, c)),
      (TileLisa.Quantile(5, 5), cont, c => Lisa.quantileLisa(5, 5, first(cont), w, c)),
      (TileLisa.MultiQuantile(Seq(4, 4), Seq(4, 1)), cont,
        c => Lisa.multiQuantileLisa(Array(4, 4), Array(4, 1), cont, w, c)))
    for ((stat, vals, broadcastMode) <- table; method <- Seq("complete", "lookup")) {
      val conf = Lisa.Conf(permutations = 199, permMethod = method)
      val b = broadcastMode(conf).orderBy("gid")
        .as[(Long, Double, Double, Double)].collect()
      val t = TileLisa.runMulti(stat, pts, vals, w, tileSize = 1e6, conf)
        .orderBy("gid").select("gid", "stat", "p", "c")
        .as[(Long, Double, Double, Double)].collect()
      assert(b.length == n, s"$stat $method row count")
      assert(t.sameElements(b), s"$stat $method: tile != broadcast")
    }
  }

  test("multi-tile multivariate/quantile runs are partitioning-invariant") {
    import spark.implicits._
    val n = 200
    val pts = points(n)
    val w = KnnWeights.build(pts, KnnWeights.Conf(k = 4, cellSize = Some(4.0)))
    val mv = (1 to n).map(i => (i.toLong,
      Seq((i * 37 % 101).toDouble, (i * 17 % 1000).toDouble)))
      .toDF("gid", "vals")
    for (stat <- Seq[TileLisa.Stat](TileLisa.MultiGeary,
        TileLisa.MultiQuantile(Seq(4, 4), Seq(4, 1)))) {
      val a = TileLisa.runMulti(stat, pts, mv, w, tileSize = 40.0)
        .orderBy("gid").collect()
      val b = TileLisa.runMulti(stat, pts.repartition(7), mv.repartition(3),
          w.repartition(5), tileSize = 40.0)
        .orderBy("gid").collect()
      assert(a.sameElements(b), s"$stat not partitioning-invariant")
      assert(a.length == n)
      // several tiles actually exist at this tile size
      assert(a.map(_.getLong(1)).distinct.length > 1)
    }
  }

  test("degenerate windows: tiny tiles make every point its own window") {
    import spark.implicits._
    val n = 80
    val pts = points(n)
    val w = KnnWeights.build(pts, KnnWeights.Conf(k = 4, cellSize = Some(4.0)))
    val v = values(n)
    // tileSize far below point spacing → all neighbors trimmed, every
    // statistic must degrade to its neighborless row shape, one row per
    // gid, no crashes in per-window standardize/quantile machinery
    for (stat <- Seq[TileLisa.Stat](TileLisa.Moran, TileLisa.G,
        TileLisa.GStar, TileLisa.Geary, TileLisa.Quantile(5, 5))) {
      val r = TileLisa.run(stat, pts, v, w, tileSize = 1e-6)
        .select("gid", "stat", "p", "c")
        .as[(Long, Double, Double, Double)].collect()
      assert(r.length == n, s"$stat row count")
      stat match {
        case TileLisa.Quantile(_, _) =>
          // neighborless join count: stat 0, p undefined (-1), nn 0
          assert(r.forall(t => t._2 == 0.0 && t._3 == -1.0 && t._4 == 0.0),
            s"$stat neighborless shape")
        case _ =>
          // neighborless LISA: stat 0, p 0, cluster 5
          assert(r.forall(t => t._2 == 0.0 && t._3 == 0.0 && t._4 == 5.0),
            s"$stat neighborless shape")
      }
    }
    val mv = (1 to n).map(i => (i.toLong,
      Seq((i * 37 % 101).toDouble, (i * 17 % 1000).toDouble)))
      .toDF("gid", "vals")
    val mg = TileLisa.runMulti(TileLisa.MultiGeary, pts, mv, w,
        tileSize = 1e-6)
      .select("gid", "stat", "p", "c")
      .as[(Long, Double, Double, Double)].collect()
    assert(mg.length == n && mg.forall(t => t._2 == 0.0 && t._4 == 5.0))
  }

  test("per-tile mode: window-trim drops cross-tile neighbors") {
    import spark.implicits._
    val pts = points(200)
    val w = KnnWeights.build(pts, KnnWeights.Conf(k = 4, cellSize = Some(4.0)))
    val v = values(200)
    val tiled = TileLisa.localMoran(pts, v, w, tileSize = 40.0)
      .as[(Long, Long, Double, Double, Double)].collect()
    assert(tiled.length == 200)
    // multiple tiles actually exist
    assert(tiled.map(_._2).distinct.length > 1)
    // rows with all neighbors trimmed are Neighborless (c=5), p=0
    tiled.filter(_._5 == 5.0).foreach { r =>
      assert(r._3 == 0.0 && r._4 == 0.0)
    }
    // deterministic under repartitioning
    val again = TileLisa.localMoran(pts.repartition(7), v.repartition(3),
      w.repartition(5), tileSize = 40.0)
      .as[(Long, Long, Double, Double, Double)].collect()
    assert(tiled.sortBy(_._1).sameElements(again.sortBy(_._1)))
  }
}
