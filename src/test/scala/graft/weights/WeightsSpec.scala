package graft.weights

import graft.SparkFixture
import graft.core.{Dist, Wkb}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class WeightsSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark

  /** Deterministic pseudo-random points (no external data). */
  private def points(n: Int) = {
    import spark.implicits._
    (1 to n).map { i =>
      val x = (i * 193 % 997) * 0.13
      val y = (i * 499 % 991) * 0.17
      (i.toLong, x, y)
    }.toDF("gid", "x", "y")
  }

  private def bruteKnn(pts: Seq[(Long, Double, Double)], k: Int): Map[Long, Seq[Long]] =
    pts.map { case (g, x, y) =>
      g -> pts.filter(_._1 != g)
        .map { case (g2, x2, y2) =>
          (math.sqrt((x - x2) * (x - x2) + (y - y2) * (y - y2)), g2)
        }.sortBy(identity).take(k).map(_._2)
    }.toMap

  test("kNN matches brute force, including across ring expansion") {
    import spark.implicits._
    val df = points(200).cache()
    val local = df.as[(Long, Double, Double)].collect().toSeq
    for (k <- Seq(1, 4, 10)) {
      val got = KnnWeights.pairs(df, KnnWeights.Conf(k = k, cellSize = Some(4.0)))
        .orderBy("gid", "rk")
        .select("gid", "nbr").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
      val want = bruteKnn(local, k)
      assert(got.keySet == want.keySet)
      got.foreach { case (g, nbrs) => assert(nbrs == want(g), s"gid $g k=$k") }
    }
  }

  test("kNN tiny cell size forces multi-round expansion, still exact") {
    import spark.implicits._
    // far clusters: gids 1-3 sit within 0.3 of each other and ≥ 140 from
    // gids 4-20, so their ±64-cell block (32.5 units at cell 0.5) holds
    // only 2 candidates for k = 5 — they certify only in the broadcast
    // finish after r = 64
    val far = ((1 to 3).map(i => (i.toLong, i * 0.1, 0.0)) ++
      (4 to 20).map(i => (i.toLong, 100.0 + (i * 193 % 17) * 0.3,
        100.0 + (i * 499 % 13) * 0.3))).toDF("gid", "x", "y")
    for (df <- Seq(points(60), far)) {
      val local = df.as[(Long, Double, Double)].collect().toSeq
      val got = KnnWeights.pairs(df, KnnWeights.Conf(k = 5, cellSize = Some(0.5)))
        .orderBy("gid", "rk").select("gid", "nbr").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
      val want = bruteKnn(local, 5)
      got.foreach { case (g, nbrs) => assert(nbrs == want(g)) }
      assert(got.keySet == want.keySet)
    }
  }

  test("kNN auto cell size over empty points fails with a named cause") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Double, Double)].toDF("gid", "x", "y")
    val e = intercept[IllegalArgumentException] {
      KnnWeights.build(empty, KnnWeights.Conf(k = 4))
    }
    assert(e.getMessage.contains("density cell edge over empty points"),
      e.getMessage)
  }

  test("distance band matches brute force incl. boundary-equal distance") {
    import spark.implicits._
    // grid points distance 1 apart: threshold exactly 1.0 must include
    // orthogonal neighbors (dist == threshold)
    val df = (0 until 25).map(i => ((i + 1).toLong, (i % 5).toDouble, (i / 5).toDouble))
      .toDF("gid", "x", "y")
    val got = DistanceWeights.pairs(df, DistanceWeights.Conf(threshold = 1.0))
      .select("gid", "nbr").as[(Long, Long)].collect().toSet
    val local = df.as[(Long, Double, Double)].collect()
    val want = (for {
      (g1, x1, y1) <- local; (g2, x2, y2) <- local
      if g1 != g2 &&
        math.sqrt((x1 - x2) * (x1 - x2) + (y1 - y2) * (y1 - y2)) <= 1.0
    } yield (g1, g2)).toSet
    assert(got == want)
    // interior point has exactly 4 neighbors at threshold 1
    assert(want.count(_._1 == 13L) == 4)
  }

  test("distance band 3x3 block: brute equality on scattered points") {
    import spark.implicits._
    val df = points(120)
    val local = df.as[(Long, Double, Double)].collect()
    for (thr <- Seq(5.0, 23.7)) {
      val got = DistanceWeights.pairs(df, DistanceWeights.Conf(threshold = thr))
        .select("gid", "nbr").as[(Long, Long)].collect().toSet
      val want = (for {
        (g1, x1, y1) <- local; (g2, x2, y2) <- local
        if g1 != g2 &&
          math.sqrt((x1 - x2) * (x1 - x2) + (y1 - y2) * (y1 - y2)) <= thr
      } yield (g1, g2)).toSet
      assert(got == want, s"threshold $thr")
    }
  }

  test("min_distthreshold equals brute force max of 1-NN") {
    import spark.implicits._
    val df = points(80)
    val local = df.as[(Long, Double, Double)].collect().toSeq
    val want = local.map { case (g, x, y) =>
      local.filter(_._1 != g).map { case (_, x2, y2) =>
        math.sqrt((x - x2) * (x - x2) + (y - y2) * (y - y2)) }.min
    }.max
    assert(DistanceWeights.minDistThreshold(df) == want)
  }

  test("inverse-distance / power kNN weights match brute-force distances") {
    import spark.implicits._
    val df = points(120).cache()
    val local = df.as[(Long, Double, Double)].collect().toSeq
    val byGid = local.map(p => p._1 -> p).toMap
    def d(a: Long, b: Long): Double = {
      val (_, x1, y1) = byGid(a); val (_, x2, y2) = byGid(b)
      math.sqrt((x1 - x2) * (x1 - x2) + (y1 - y2) * (y1 - y2))
    }
    val brute = bruteKnn(local, 3)
    // inverse with power 2: w = 1 / d^2 (weights_knn.c power/is_inverse)
    val inv = KnnWeights.build(df, KnnWeights.Conf(k = 3,
        power = 2.0, isInverse = true, cellSize = Some(4.0)))
      .select("gid", "nbrs", "wts")
      .as[(Long, Seq[Long], Seq[Double])].collect()
    inv.foreach { case (g, nbrs, wts) =>
      assert(nbrs == brute(g))
      nbrs.zip(wts).foreach { case (nb, w) =>
        assert(math.abs(w - 1.0 / math.pow(d(g, nb), 2.0)) < 1e-12,
          s"gid $g nbr $nb")
      }
    }
    // power only (no inverse): w = d^p
    val pw = KnnWeights.build(df, KnnWeights.Conf(k = 3,
        power = 1.5, cellSize = Some(4.0)))
      .select("gid", "nbrs", "wts")
      .as[(Long, Seq[Long], Seq[Double])].collect()
    pw.foreach { case (g, nbrs, wts) =>
      nbrs.zip(wts).foreach { case (nb, w) =>
        assert(math.abs(w - math.pow(d(g, nb), 1.5)) < 1e-12)
      }
    }
  }

  test("inverse-distance band weights match brute-force distances") {
    import spark.implicits._
    val df = points(120).cache()
    val local = df.as[(Long, Double, Double)].collect().toSeq
    val byGid = local.map(p => p._1 -> p).toMap
    def d(a: Long, b: Long): Double = {
      val (_, x1, y1) = byGid(a); val (_, x2, y2) = byGid(b)
      math.sqrt((x1 - x2) * (x1 - x2) + (y1 - y2) * (y1 - y2))
    }
    val t = 12.0
    val got = DistanceWeights.build(df,
        DistanceWeights.Conf(threshold = t, power = 2.0, isInverse = true))
      .select("gid", "nbrs", "wts")
      .as[(Long, Seq[Long], Seq[Double])].collect()
    assert(got.nonEmpty)
    got.foreach { case (g, nbrs, wts) =>
      val want = local.filter(p => p._1 != g && d(g, p._1) <= t)
        .map(_._1).sorted
      assert(nbrs == want, s"gid $g neighbor set")
      nbrs.zip(wts).foreach { case (nb, w) =>
        assert(math.abs(w - 1.0 / math.pow(d(g, nb), 2.0)) < 1e-12)
      }
    }
  }

  test("kernel knn weights: values in (0,1], adaptive bandwidth kth dist") {
    import spark.implicits._
    val df = points(50)
    val w = KnnWeights.build(df, KnnWeights.Conf(k = 3, cellSize = Some(4.0),
      kernel = Some("triangular")))
    val rows = w.select("gid", "nbrs", "wts")
      .as[(Long, Seq[Long], Seq[Double])].collect()
    assert(rows.length == 50)
    rows.foreach { case (gid, nbrs, wts) =>
      // kernel weights include the diagonal (self first, distance 0);
      // default (useKernelDiagonals=false) self weight is 1.0
      assert(nbrs.length == 4 && wts.length == 4)
      assert(nbrs.head == gid && wts.head == 1.0)
      // triangular: farthest (bandwidth) neighbor → weight 0; others > 0
      assert(wts.last == 0.0)
      assert(wts.tail.init.forall(v => v > 0.0 && v < 1.0))
    }
    // use_kernel_diagonals=true → self weight = kernel(0) (gaussian:
    // 1/sqrt(2π)), matching proxy.cpp:156-161 semantics
    val wg = KnnWeights.build(df, KnnWeights.Conf(k = 3, cellSize = Some(4.0),
      kernel = Some("gaussian"), useKernelDiagonals = true))
      .select("gid", "nbrs", "wts").as[(Long, Seq[Long], Seq[Double])].collect()
    wg.foreach { case (gid, nbrs, wts) =>
      assert(nbrs.head == gid)
      assert(math.abs(wts.head - 1.0 / math.sqrt(2 * math.Pi)) < 1e-12)
    }
  }

  test("kernel weights: every kernel x {kNN, distance band} x diagonals match Dist.kernel") {
    import spark.implicits._
    val df = points(60).cache()
    val byGid = df.as[(Long, Double, Double)].collect()
      .map(p => p._1 -> (p._2, p._3)).toMap
    def d(a: Long, b: Long): Double = {
      val (x1, y1) = byGid(a); val (x2, y2) = byGid(b)
      Dist.euclidean(x1, y1, x2, y2)
    }
    def rows(w: DataFrame) =
      w.select("gid", "nbrs", "wts").as[(Long, Seq[Long], Seq[Double])].collect()
    val thr = 25.0
    for (kn <- Seq("triangular", "uniform", "epanechnikov", "quartic", "gaussian");
         diag <- Seq(false, true)) {
      def check(g: Long, nbrs: Seq[Long], wts: Seq[Double], bw: Double): Unit = {
        assert(nbrs.contains(g) && nbrs.length == wts.length)
        nbrs.zip(wts).foreach { case (nb, w) =>
          val want = Dist.kernel(kn, d(g, nb), bw, useDiagonal = diag)
          assert(math.abs(w - want) < 1e-12, s"$kn diag=$diag gid $g nbr $nb")
        }
      }
      // kNN: adaptive bandwidth = each row's kth-neighbor distance
      val knn = rows(KnnWeights.build(df, KnnWeights.Conf(k = 4,
        cellSize = Some(4.0), kernel = Some(kn), useKernelDiagonals = diag)))
      assert(knn.length == 60)
      knn.foreach { case (g, nbrs, wts) => check(g, nbrs, wts, d(g, nbrs.last)) }
      // distance band: bandwidth = threshold
      val band = rows(DistanceWeights.build(df, DistanceWeights.Conf(
        threshold = thr, kernel = Some(kn), useKernelDiagonals = diag)))
      assert(band.length == 60 && band.exists(_._2.length > 2))
      band.foreach { case (g, nbrs, wts) => check(g, nbrs, wts, thr) }
    }
  }

  test("an unknown kernel name fails in both weight builders") {
    val df = points(20)
    val builds = Seq[() => Any](
      () => KnnWeights.build(df, KnnWeights.Conf(k = 3, kernel = Some("cosine"))),
      () => DistanceWeights.build(df,
        DistanceWeights.Conf(threshold = 10.0, kernel = Some("cosine"))))
    builds.foreach { b =>
      val e = intercept[IllegalArgumentException](b())
      assert(e.getMessage.contains("unknown kernel 'cosine'"))
    }
  }

  test("arc distance band: high-latitude + antimeridian neighbors found") {
    import spark.implicits._
    val degLen = graft.core.Dist.EarthKm * math.Pi / 180.0 // ≈111.19 km
    // threshold = one degree of latitude → cellSize = 1°
    val thr = degLen
    val pts = Seq(
      (1L, 0.0, 70.0), (2L, 2.5, 70.0),      // 2.5° lon apart at lat 70 →
      // arc ≈ 0.855° ≈ 95 km < thr, but 2.5 cells apart in lon: the old
      // fixed Chebyshev-2 block missed this pair entirely
      (3L, 179.8, 0.0), (4L, -179.8, 0.0),   // 0.4° across the antimeridian
      (5L, 0.0, 0.0), (6L, 2.5, 0.0)         // control: 2.5° at equator > thr
    ).toDF("gid", "x", "y")
    val prs = DistanceWeights.pairs(pts,
        DistanceWeights.Conf(threshold = thr, isArc = true, isMile = false))
      .select("gid", "nbr").as[(Long, Long)].collect().toSet
    assert(prs.contains((1L, 2L)) && prs.contains((2L, 1L)),
      s"high-latitude in-band pair missed: $prs")
    assert(prs.contains((3L, 4L)) && prs.contains((4L, 3L)),
      s"antimeridian pair missed: $prs")
    assert(!prs.contains((5L, 6L)), s"out-of-band equator pair present: $prs")
  }

  test("arc kNN: cell-ring result equals brute force at high latitude") {
    import spark.implicits._
    // 60 points in a lon-stretched band at lat 65..75 where lon degrees
    // are worth ~0.3-0.42 of lat degrees — exercises the unit-consistent
    // certification bound + expansion rounds
    val pts = (1 to 60).map { i =>
      (i.toLong, (i * 193 % 97) * 0.25, 65.0 + (i * 499 % 89) * 0.11)
    }
    val df = pts.toDF("gid", "x", "y")
    val got = KnnWeights.pairs(df,
        KnnWeights.Conf(k = 3, isArc = true, isMile = true,
          cellSize = Some(1.0)))
      .select("gid", "nbr", "rk").as[(Long, Long, Int)].collect()
      .groupBy(_._1).map { case (g, a) =>
        g -> a.sortBy(_._3).map(_._2).toSeq }
    val brute = pts.map { case (g, x, y) =>
      g -> pts.filter(_._1 != g)
        .map(p => (graft.core.Dist.arc(x, y, p._2, p._3, mile = true), p._1))
        .sorted.take(3).map(_._2).toSeq
    }.toMap
    pts.foreach { case (g, _, _) =>
      assert(got(g) == brute(g), s"gid $g: got ${got(g)} brute ${brute(g)}")
    }
  }

  test("queen vs rook on a 3x3 polygon grid") {
    import spark.implicits._
    val polys = (for (cy <- 0 until 3; cx <- 0 until 3) yield {
      val gid = (cy * 3 + cx + 1).toLong
      val x0 = cx * 1.0; val y0 = cy * 1.0
      (gid, Wkb.writePolygon(Array((x0, y0), (x0 + 1, y0),
        (x0 + 1, y0 + 1), (x0, y0 + 1))))
    }).toDF("gid", "geom")
    val queen = ContiguityWeights.adjacency(polys,
      ContiguityWeights.Conf(queen = true))
      .as[(Long, Long)].collect().toSet
    val rook = ContiguityWeights.adjacency(polys,
      ContiguityWeights.Conf(queen = false))
      .as[(Long, Long)].collect().toSet
    // center cell 5: queen has 8 neighbors, rook 4
    assert(queen.count(_._1 == 5L) == 8)
    assert(rook.count(_._1 == 5L) == 4)
    // corner cell 1: queen 3, rook 2
    assert(queen.count(_._1 == 1L) == 3)
    assert(rook.count(_._1 == 1L) == 2)
    // rook ⊂ queen, symmetric
    assert(rook.subsetOf(queen))
    assert(queen.map(_.swap) == queen)
  }

  test("order-2 queen: exact second-order ring, inc_lower unions") {
    import spark.implicits._
    val polys = (for (cy <- 0 until 4; cx <- 0 until 4) yield {
      val gid = (cy * 4 + cx + 1).toLong
      val x0 = cx * 1.0; val y0 = cy * 1.0
      (gid, Wkb.writePolygon(Array((x0, y0), (x0 + 1, y0),
        (x0 + 1, y0 + 1), (x0, y0 + 1))))
    }).toDF("gid", "geom")
    val o2 = ContiguityWeights.orderedAdjacency(polys,
      ContiguityWeights.Conf(queen = true, order = 2))
      .as[(Long, Long)].collect().toSet
    // corner 1 at (0,0): order-2 ring = cells at Chebyshev distance 2:
    // (2,0),(2,1),(2,2),(1,2),(0,2) → gids 3,7,11,10,9
    assert(o2.filter(_._1 == 1L).map(_._2) == Set(3L, 7L, 11L, 10L, 9L))
    val o2inc = ContiguityWeights.orderedAdjacency(polys,
      ContiguityWeights.Conf(queen = true, order = 2, includeLowerOrder = true))
      .as[(Long, Long)].collect().toSet
    assert(o2inc.filter(_._1 == 1L).map(_._2) ==
      Set(2L, 5L, 6L, 3L, 7L, 11L, 10L, 9L))
  }
}
