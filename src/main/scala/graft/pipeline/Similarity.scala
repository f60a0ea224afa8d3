package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Baseline: brute-force cosine top-k — a broadcast of the (small) query
  * set against the corpus, dot products via `zip_with`/`aggregate`
  * higher-order functions (stays in Catalyst, no UDF), per-query window
  * top-k.
  *
  * Scale path: IVF-style coarse quantization — k-means-ish centroid
  * assignment with deterministic seeding; corpus bucketed by nearest
  * centroid (the "inverted file"); queries probe `nprobe` nearest
  * centroids; candidates scored exactly within probed buckets. All
  * shuffles keyed by centroid id.
  */
object Similarity {

  // codegen'd fused inner-product loop (bit-identical to the HOF chain
  // `aggregate(zip_with(_*_), 0.0, _+_)` it replaced — same
  // left-to-right accumulation — at a fraction of the per-row cost)
  private def dot(a: String, b: String) =
    graft.catalyst.GraftFunctions.dot_arr(col(a), col(b))

  /** Vector dimension: the size of the first non-null, non-empty
    * `vecCol` (a null vector sizes to null under ANSI mode).
    */
  private[graft] def dimOf(frame: DataFrame, vecCol: String): Int = {
    val r = frame.select(size(col(vecCol)).as("d")).where(col("d") > 0)
      .limit(1).collect()
    require(r.nonEmpty, s"no non-empty $vecCol to take the dimension of")
    r(0).getInt(0)
  }

  /** L2-normalize the vector column into `unit` (array<double>). */
  def normalized(emb: DataFrame, idCol: String = "vec_id",
                 vecCol: String = "embedding"): DataFrame =
    emb.select(col(idCol).cast("long").as("id"),
        transform(col(vecCol), x => x.cast("double")).as("v"))
      .withColumn("norm",
        sqrt(aggregate(transform(col("v"), x => x * x), lit(0.0),
          (acc, x) => acc + x)))
      .withColumn("unit",
        when(col("norm") === 0.0, col("v"))
          .otherwise(transform(col("v"), x => x / col("norm"))))
      .select("id", "unit")

  /** Rank scored rows per query: partial top-k aggregate (map-side
    * k-slot buffers, ~k rows per partition reach the shuffle) instead
    * of a whole-stream `row_number()` window sort. Row-identical to
    * `orderBy(cosine desc, id asc)` ranking.
    */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy("qid")
      .agg(graft.catalyst.TopKAgg.topk(k)(col("cosine"), col("id")).as("top"))
      .select(col("qid"), posexplode(col("top")))
      .select(col("qid"), col("col._2").as("id"),
        col("col._1").as("cosine"), (col("pos") + 1).cast("int").as("rk"))

  /** Brute-force cosine top-k: queries × corpus (queries broadcast).
    * Returns (qid, id, cosine, rk).
    */
  def bruteTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val c = normalized(corpus)
    val q = normalized(queries).select(col("id").as("qid"),
      col("unit").as("qunit"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("id") =!= col("qid"))
      .select(col("qid"), col("id"), dot("unit", "qunit").as("cosine"))
    rankTopK(scored, k)
  }

  /** Nearest-centroid assignment. When the centroid frame is a LOCAL
    * relation (every build below the driver bound), assignment is a
    * PURE SCAN — the centroids ride into the plan as literals (the
    * pqEncode pattern) and each row pays k fused dot products inside
    * whole-stage codegen with NO exchange: the corpus is never
    * shuffled to be assigned, at any corpus size. Tie rule identical
    * to the aggregate form: max sim, then min cid (`array_position`
    * finds the FIRST maximum and the score array is cid-ascending).
    * Distributed centroid frames (beyond the driver bound) keep the
    * max_by partial-agg form.
    */
  private[graft] def assignNearest(c: DataFrame, cents: DataFrame): DataFrame =
    if (graft.core.Materialize.isLocal(cents)) {
      val rows = cents.select(col("cid").cast("int"), col("cunit")).collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1))).sortBy(_._1)
      val scores = array(rows.map { case (_, v) =>
        graft.catalyst.GraftFunctions.dot_arr(col("unit"), typedLit(v)) }: _*)
      val cid = element_at(typedLit(rows.map(_._1).toSeq),
        array_position(scores, array_max(scores)).cast("int"))
      c.select(col("id"), cid.as("cid"), col("unit"))
    } else
      c.crossJoin(broadcast(cents))
        .select(col("id"), col("unit"), col("cid"),
          dot("unit", "cunit").as("sim"))
        .groupBy("id")
        .agg(max_by(col("cid"), struct(col("sim"), negate(col("cid")))).as("cid"),
          first(col("unit")).as("unit"))

  /** Deterministic IVF centroids: pick nCentroids seeds by id order, one
    * refinement sweep (mean of assigned vectors). Returns centroid DF
    * (cid, cunit).
    */
  def ivfCentroids(corpus: DataFrame, nCentroids: Int,
                   dimHint: Int = -1): DataFrame =
    lloydCentroids(corpus, nCentroids, scattered = false, dimHint)

  /** Centroids with HASH-SCATTERED seeds — for cluster-partitioned
    * workloads (semantic dedup) where seed placement decides recall:
    * id-order seeding puts consecutive ids (often near-duplicates of
    * each other) on separate centroids, splitting exactly the groups
    * the caller wants co-clustered; ordering by xxhash64(id) scatters
    * the seed draw across the corpus. IVF keeps id-order seeding (its
    * queries probe several centroids anyway, and the q57b SQL oracle
    * replays that seeding verbatim).
    */
  def scatteredCentroids(corpus: DataFrame, nCentroids: Int,
                         dimHint: Int = -1): DataFrame =
    lloydCentroids(corpus, nCentroids, scattered = true, dimHint)

  /** Euclidean k-means over RAW (unnormalized) vectors — for residual
    * quantization, where cosine assignment is wrong: two near-identical
    * vectors close to their coarse centroid have tiny residuals whose
    * DIRECTIONS diverge arbitrarily (normalization amplifies the
    * difference), while their Euclidean nearest residual-centroid stays
    * shared. argmin |r−c|² = argmax (r·c − ½|c|²); ties by min cid.
    * Input (id, vec: array<double>); returns (cid, cvec, cn2).
    */
  /** `inputCached = true` skips the internal cache — for callers whose
    * frame is already cache-backed (the two-level semantic-dedup
    * residual frame), where a second cache of the same rows only costs
    * memory and a materialization pass.
    */
  def euclidCentroids(frame: DataFrame, nCentroids: Int,
                      dimHint: Int = -1,
                      inputCached: Boolean = false): DataFrame = {
    val f0 = frame.select(col("id"), col("vec"))
    val f = if (inputCached) f0 else f0.cache()
    val ord = Seq(xxhash64(col("id")), col("id"))
    // cn2 on the driver is the same left-fold of squares in array order
    // as the old aggregate(transform(...)) column
    val seeds = collectSeeds(f, nCentroids, ord, "vec",
      r => {
        val v = r.getSeq[Double](1)
        Seq(v, v.foldLeft(0.0)((a, x) => a + x * x))
      },
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("cid",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("cvec",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType)),
        org.apache.spark.sql.types.StructField("cn2",
          org.apache.spark.sql.types.DoubleType, nullable = false))))
    val assigned = assignNearestEuclid(f, seeds)
    val dim =
      if (dimHint > 0) dimHint
      else dimOf(f, "vec")
    val out = assigned.groupBy("cid")
      .agg(array((0 until dim).map(i => avg(col("vec")(i))): _*).as("cvec"))
      .withColumn("cn2", aggregate(transform(col("cvec"), x => x * x),
        lit(0.0), (a, x) => a + x))
    val internal = if (inputCached) Nil else Seq(f)
    if (centroidsFitDriver(nCentroids, dim))
      graft.core.Materialize.collected(out, internal)
    else graft.core.Materialize.releasing(out, internal)
  }

  /** Centroid frames are broadcast to every consumer, so the driver
    * holds them regardless; below this bound (64 MB of doubles) they
    * are returned as LOCAL relations ([[graft.core.Materialize
    * .collected]]) — same values, no checkpoint/broadcast-build jobs.
    */
  private def centroidsFitDriver(n: Int, dim: Int): Boolean =
    n.toLong * math.max(1, dim) <= (8L << 20)

  /** Euclidean nearest-centroid assignment: max_by over
    * (r·c − ½|c|², −cid) — the same windowless partial-agg shape as
    * [[assignNearest]]. Input (id, vec); centroids (cid, cvec, cn2).
    * `probes` > 1 emits the top-`probes` cells per id (multi-probe:
    * candidate-generation recall at Voronoi boundaries; the partial
    * top-k aggregate keeps the same tie rule, score desc then min cid)
    * and returns ONLY (id, cid) — its caller keys the probe cells back
    * to the full rows by id, so threading the vector through the top-k
    * aggregate and the explode would shuffle and duplicate d doubles
    * per probe for nothing. probes = 1 keeps (id, cid, vec): the Lloyd
    * mean recompute consumes the vector in the very next aggregate.
    */
  private[graft] def assignNearestEuclid(f: DataFrame,
      cents: DataFrame, probes: Int = 1): DataFrame = {
    // LOCAL centroid frame → pure-scan assignment (see [[assignNearest]]):
    // scores as literal-codebook expressions, argmax (and for
    // multi-probe the argmax-of-the-rest) by position — no corpus
    // shuffle, identical (score desc, cid asc) tie rule
    if (graft.core.Materialize.isLocal(cents)) {
      val rows = cents.select(col("cid").cast("int"), col("cvec"),
          col("cn2")).collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1), r.getDouble(2)))
        .sortBy(_._1)
      val cids = typedLit(rows.map(_._1).toSeq)
      val scores = array(rows.map { case (_, v, n2) =>
        graft.catalyst.GraftFunctions.dot_arr(col("vec"), typedLit(v)) -
          lit(0.5 * n2) }: _*)
      if (probes <= 1) {
        val cid = element_at(cids,
          array_position(scores, array_max(scores)).cast("int"))
        f.select(col("id"), cid.as("cid"), col("vec"))
      } else {
        require(probes == 2,
          "scan-form multi-probe implements the top-2 the engine uses")
        val p1 = array_position(scores, array_max(scores)).cast("int")
        // mask the winner, take the max of the rest (ties again to the
        // first position = smallest cid, matching the top-k aggregate)
        val masked = zip_with(scores,
          sequence(lit(1), lit(rows.length)),
          (s, i) => when(i === p1, lit(Double.NegativeInfinity)).otherwise(s))
        val p2 = array_position(masked, array_max(masked)).cast("int")
        f.select(col("id"),
            explode(array(element_at(cids, p1), element_at(cids, p2)))
              .as("cid"))
          .select(col("id"), col("cid"))
      }
    } else if (probes <= 1)
      f.crossJoin(broadcast(cents))
        .select(col("id"), col("vec"), col("cid"),
          (graft.catalyst.GraftFunctions.dot_arr(col("vec"), col("cvec"))
            - lit(0.5) * col("cn2")).as("score"))
        .groupBy("id")
        .agg(max_by(col("cid"), struct(col("score"), negate(col("cid"))))
          .as("cid"),
          first(col("vec")).as("vec"))
    else
      f.crossJoin(broadcast(cents))
        .select(col("id"), col("cid"),
          (graft.catalyst.GraftFunctions.dot_arr(col("vec"), col("cvec"))
            - lit(0.5) * col("cn2")).as("score"))
        .groupBy("id")
        .agg(graft.catalyst.TopKAgg.topk(probes)(
          col("score"), col("cid").cast("long")).as("top"))
        .select(col("id"), explode(col("top")).as("t"))
        .select(col("id"), col("t._2").cast("int").as("cid"))
  }

  /** Seed draw as a LOCAL relation: one TakeOrdered-heap collect of the
    * first `n` rows under `ord` (never a global sort), numbered 0..n-1
    * on the driver — the same rows and cids the old
    * `orderBy.limit + row_number().over(Window.orderBy(ord))` form
    * produced, without the window's sort exchange or the broadcast-
    * build job every consumer then paid (seeds are ≤65536 rows by
    * construction — driver-held for the broadcast either way).
    */
  private def collectSeeds(src: DataFrame, n: Int,
      ord: Seq[org.apache.spark.sql.Column], vecCol: String,
      outCols: Row => Seq[Any], schema: org.apache.spark.sql.types.StructType)
      : DataFrame = {
    val rows = src.orderBy(ord: _*).limit(n).collect() // TakeOrdered: sorted
    val out = rows.iterator.zipWithIndex
      .map { case (r, i) => Row.fromSeq(i +: outCols(r)) }.toSeq
    src.sparkSession.createDataFrame(
      java.util.Arrays.asList(out: _*), schema)
  }

  private def lloydCentroids(corpus: DataFrame, nCentroids: Int,
      scattered: Boolean, dimHint: Int = -1): DataFrame = {
    val c = normalized(corpus).cache()
    // TakeOrdered heap either way — never a global sort
    val ord =
      if (scattered) Seq(xxhash64(col("id")), col("id")) else Seq(col("id"))
    val seeds = collectSeeds(c.select(col("id"), col("unit")), nCentroids,
      ord, "unit", r => Seq(r.getSeq[Double](1)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("cid",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("cunit",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType)))))
    // one Lloyd sweep: assign to nearest seed, recompute means. The
    // per-dimension avg columns stay inside ONE codegen'd hash aggregate
    // with map-side partials (dim fixed, small).
    val assigned = assignNearest(c, seeds)
    val dim =
      if (dimHint > 0) dimHint
      else dimOf(c, "unit")
    val out = assigned.groupBy("cid")
      .agg(array((0 until dim).map(i =>
        avg(col("unit")(i))): _*).as("cunit"))
    if (centroidsFitDriver(nCentroids, dim))
      graft.core.Materialize.collected(out, Seq(c))
    else graft.core.Materialize.releasing(out, Seq(c))
  }

  /** Product-quantization codebooks (Jégou, Douze & Schmid, TPAMI
    * 2011): split each unit vector into `m` subspaces of d/m dims and
    * k-means each subspace independently to `ksub` centroids. Encoded
    * storage drops from d doubles to m small ints per vector — the
    * compression that makes billion-vector ANN indexes fit a cluster's
    * memory (IVFADC = the [[ivfTopK]] coarse stage + this).
    *
    * Training is ONE pass over the corpus: subvector rows (id, sub,
    * svec) via posexplode (n·m rows but total volume = the corpus),
    * Euclidean assignment against broadcast seeds keyed per subspace,
    * and a (sub, cid)-keyed mean recompute — both shuffles carry
    * ~one row per (vector, subspace) partial-aggregated. Seeding is
    * the IVF convention: the FIRST `ksub` vectors (id order) seed
    * every subspace, so the q108 DuckDB oracle replays the draw
    * without a per-subspace window. One Lloyd sweep, like
    * [[ivfCentroids]]. Returns (sub, cid, cvec).
    */
  def pqTrain(corpus: DataFrame, m: Int, ksub: Int): DataFrame =
    pqTrainUnit(normalized(corpus), m, ksub)

  /** [[pqTrain]] over an already-prepared (id, unit) frame — the unit
    * column is NOT re-normalized, which is what residual quantization
    * ([[ivfAdcTopK]]) needs: residuals are small by construction and
    * normalizing them would erase exactly the magnitude information
    * the codebook must capture.
    */
  private[graft] def pqTrainUnit(units: DataFrame, m: Int,
                                 ksub: Int, dimHint: Int = -1,
                                 inputCached: Boolean = false): DataFrame = {
    val c0 = units.select(col("id"), col("unit"))
    val c = if (inputCached) c0 else c0.cache()
    val dim =
      if (dimHint > 0) dimHint
      else dimOf(c, "unit")
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val dsub = dim / m
    def subSlices(v: org.apache.spark.sql.Column) =
      posexplode(array((0 until m).map(j =>
        slice(v, j * dsub + 1, dsub)): _*))
    val subs = c.select(col("id"), subSlices(col("unit")))
      .select(col("id"), col("pos").as("sub"), col("col").as("svec"))
    // seed draw collected to a LOCAL relation (ksub ≤ 256 rows): same
    // id-order TakeOrdered rows, cids 0..ksub-1, sub slices and cn2
    // computed on the driver with the identical element order — kills
    // the row_number window's sort exchange and the per-consumer
    // broadcast-build job
    val seedRows = c.orderBy(col("id")).limit(ksub).collect()
    val seedOut: Seq[Row] =
      (for ((r, i) <- seedRows.iterator.zipWithIndex; j <- (0 until m).iterator)
        yield {
          val unit = r.getSeq[Double](1)
          val sv = unit.slice(j * dsub, (j + 1) * dsub)
          Row(j, i, sv, sv.foldLeft(0.0)((a, x) => a + x * x))
        }).toSeq
    val seeds = c.sparkSession.createDataFrame(
      java.util.Arrays.asList(seedOut: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("sub",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("cid",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("cvec",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType)),
        org.apache.spark.sql.types.StructField("cn2",
          org.apache.spark.sql.types.DoubleType, nullable = false))))
    val assigned = subs.join(broadcast(seeds), "sub")
      .select(col("id"), col("sub"), col("svec"), col("cid"),
        (dot("svec", "cvec") - lit(0.5) * col("cn2")).as("score"))
      .groupBy("id", "sub")
      .agg(max_by(col("cid"), struct(col("score"), negate(col("cid"))))
        .as("cid"),
        first(col("svec")).as("svec"))
    val out = assigned.groupBy("sub", "cid")
      .agg(array((0 until dsub).map(i => avg(col("svec")(i))): _*).as("cvec"))
    // m·ksub rows × (d/m) doubles = d·ksub total — always driver-small
    // (ksub ≤ 256 in any standard PQ); [[collectCodebooks]] collects
    // this frame anyway, so the local relation makes that collect free
    val internal = if (inputCached) Nil else Seq(c)
    if (centroidsFitDriver(m * ksub, dsub))
      graft.core.Materialize.collected(out, internal)
    else graft.core.Materialize.releasing(out, internal)
  }

  /** The collected codebook: per subspace, the (cid, cvec, cn2) list
    * sorted by cid. m·ksub·(d/m) = d·ksub doubles total — broadcast-
    * scale BY CONSTRUCTION (ksub ≤ 256 in any standard PQ), which is
    * what lets the encoder be a pure scan.
    */
  private def collectCodebooks(codebooks: DataFrame)
      : Map[Int, Array[(Int, Seq[Double], Double)]] =
    codebooks.select(col("sub").cast("int"), col("cid").cast("int"),
        col("cvec")).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
      .groupBy(_._1)
      .map { case (s, rows) =>
        s -> rows.sortBy(_._2).map { case (_, cid, v) =>
          (cid, v, v.foldLeft(0.0)((a, x) => a + x * x))
        }
      }

  /** PQ encode as a PURE SCAN: the codebooks ride into the plan as
    * literals, so each row pays m·ksub fused dot products inside
    * whole-stage codegen and the operator has NO exchange, join, or
    * aggregation — encoding 10^12 vectors is exactly as parallel as
    * reading them. Returns (id, codes array<int>), codes[j] = cid of
    * the Euclidean-nearest sub-centroid; ties to the smallest cid
    * (`array_position` finds the FIRST maximum, and the score array is
    * cid-ordered).
    */
  def pqEncode(corpus: DataFrame, codebooks: DataFrame): DataFrame =
    pqEncodeUnit(normalized(corpus), codebooks)

  /** [[pqEncode]] over a prepared frame with a `unit` column; every
    * other column rides through untouched (so [[ivfAdcTopK]] keeps its
    * coarse-cell id alongside the codes with no re-join).
    */
  private[graft] def pqEncodeUnit(units: DataFrame,
                                  codebooks: DataFrame): DataFrame = {
    val cb = collectCodebooks(codebooks)
    val m = cb.keys.max + 1
    val dsub = cb(0).head._2.size
    val codeCols = (0 until m).map { j =>
      val sv = slice(col("unit"), j * dsub + 1, dsub)
      val scores = array(cb(j).map { case (_, v, cn2) =>
        graft.catalyst.GraftFunctions.dot_arr(sv, typedLit(v)) -
          lit(0.5 * cn2) }: _*)
      // position of the first max → the cid at that position (cids can
      // be sparse if a seed lost every member in the Lloyd sweep)
      element_at(typedLit(cb(j).map(_._1).toSeq),
        array_position(scores, array_max(scores)).cast("int"))
    }
    units.withColumn("codes", array(codeCols: _*)).drop("unit")
  }

  /** Per-row ADC lookup table over the `unit` column: lut[j][cid+1] =
    * unit_sub_j · cvec(j, cid), cid-indexed with dead cids scored 0
    * (they never appear in codes).
    */
  private def lutColumn(cb: Map[Int, Array[(Int, Seq[Double], Double)]])
      : org.apache.spark.sql.Column = {
    val m = cb.keys.max + 1
    val dsub = cb(0).head._2.size
    array((0 until m).map { j =>
      val sv = slice(col("unit"), j * dsub + 1, dsub)
      val byCid = cb(j).map(e => e._1 -> e._2).toMap
      val maxCid = cb(j).map(_._1).max
      array((0 to maxCid).map(cid => byCid.get(cid)
        .map(v => graft.catalyst.GraftFunctions.dot_arr(sv, typedLit(v)))
        .getOrElse(lit(0.0))): _*)
    }: _*)
  }

  /** Σ_j lut[j][codes[j]] — the compressed-domain score, as the fused
    * codegen expression (bit-identical to the HOF chain
    * `aggregate(zip_with(codes, lut, (c, row) -> element_at(row, c+1)),
    * 0.0, _+_)` it replaced — CatalystSpec pins the equivalence — at a
    * fraction of the per-row cost; the HOF form's interpreted lambdas
    * made ADC scoring slower than the exact dots it exists to avoid).
    */
  private def adcScore(codes: org.apache.spark.sql.Column,
                       lut: org.apache.spark.sql.Column) =
    graft.catalyst.GraftFunctions.adc_score(codes, lut)

  /** Asymmetric-distance (ADC) top-k over PQ codes: per query, a LUT
    * of q_sub·c_sub per (subspace, cid) — computed once per query as
    * column expressions over the literal codebooks — then each corpus
    * row scores as Σ_j lut[j][codes[j]]: m array lookups instead of a
    * d-dim dot product, the compressed-domain scoring that never
    * touches the original vectors. The LUT rides the query broadcast;
    * ranking reuses the partial top-k aggregate. Score approximates
    * cosine(query, vector) by cosine(query, reconstruction). Returns
    * (qid, id, cosine, rk).
    */
  def pqTopK(codes: DataFrame, queries: DataFrame, codebooks: DataFrame,
             k: Int): DataFrame = {
    val cb = collectCodebooks(codebooks)
    val q = normalized(queries)
      .select(col("id").as("qid"), lutColumn(cb).as("lut"))
    val scored = codes.crossJoin(broadcast(q))
      .filter(col("id") =!= col("qid"))
      .select(col("qid"), col("id"),
        adcScore(col("codes"), col("lut")).as("cosine"))
    rankTopK(scored, k)
  }

  /** IVFADC — the composed billion-scale index (Jégou et al. §IV):
    * coarse IVF cells for candidate generation + PQ codebooks trained
    * on RESIDUALS (unit − coarse centroid) for in-cell scoring, all in
    * the compressed domain. score(q, x) ≈ q·c_cell + Σ_j lut_cell[j][
    * codes_j(x)] where the LUT is built from the query's own residual
    * against its probed cell — one LUT per (query, probed cell),
    * riding the query broadcast.
    *
    * Scale shape: the index frame is (id, ccid, codes) — m ints per
    * vector, the original embeddings never touched at query time; the
    * only join is probed-cell-keyed against the broadcast (query,
    * cell, LUT) rows, so corpus-side work is candidate-cells scan ×
    * m lookups. Training adds one coarse sweep + one residual PQ sweep
    * over the corpus. Returns (qid, id, cosine, rk).
    */
  /** The built IVFADC index: coarse centroids, residual PQ codebooks,
    * and the code frame (id, ccid, codes). Build once with
    * [[ivfAdcIndex]], query many times with [[ivfAdcSearch]] — the
    * training sweeps amortize across query batches (a real deployment
    * persists `index` as a table of m ints + a cell id per vector and
    * the two centroid frames as tiny side tables). `release()` drops
    * the cached centroid frame.
    */
  final case class IvfAdcIndex(cents: DataFrame, codebooks: DataFrame,
                               index: DataFrame) {
    def release(): Unit = {
      graft.core.Materialize.release(cents)
      graft.core.Materialize.release(codebooks)
      graft.core.Materialize.release(index)
    }
  }

  /** Build the IVFADC index: coarse sweep, residual computation,
    * residual-PQ sweep, exchange-free encode. The m·ksub-row codebook
    * frame is cached — [[ivfAdcSearch]] collects it per query batch,
    * and without the cache each batch would re-trigger the whole
    * training lineage (locally masked by shuffle-file reuse, a real
    * recompute on a cluster whose shuffle files have aged out).
    */
  def ivfAdcIndex(corpus: DataFrame, nCells: Int = 16,
                  m: Int = 8, ksub: Int = 16): IvfAdcIndex = {
    // one dim probe shared by the coarse and the residual-PQ training
    // (each used to run its own limit-1 job)
    val dim = dimOf(corpus, "embedding")
    // centroid/codebook frames come back as LOCAL relations below the
    // driver bound — caching those would only wrap a job-free local
    // scan in distributed cache blocks
    val cents0 = ivfCentroids(corpus, nCells, dim)
    val cents =
      if (graft.core.Materialize.isLocal(cents0)) cents0 else cents0.cache()
    val c = normalized(corpus)
    // ONE corpus assignment pass, cached: residual-PQ training and the
    // encode both consume `resid` — uncached, the coarse assignment's
    // aggregate ran twice per index build (and a third time per search
    // batch through the lazy index frame). The materialized index is
    // (id, ccid, m codes) — exactly what a deployment persists — so
    // searches scan checkpoint blocks, never the training lineage.
    val resid = assignNearest(c, cents)
      .join(broadcast(cents.select(col("cid"), col("cunit"))), "cid")
      .select(col("id"), col("cid").as("ccid"),
        zip_with(col("unit"), col("cunit"), (a, b) => a - b).as("unit"))
      .cache()
    val cb0 = pqTrainUnit(resid.select(col("id"), col("unit")), m, ksub, dim,
      inputCached = true)
    val cb = if (graft.core.Materialize.isLocal(cb0)) cb0 else cb0.cache()
    val index = graft.core.Materialize.releasing(
      pqEncodeUnit(resid, cb), Seq(resid))
    IvfAdcIndex(cents, cb, index)
  }

  /** Query an IVFADC index: probe `nprobe` cells, score candidates in
    * the compressed domain (one residual LUT per (query, probed cell),
    * riding the query broadcast). Returns (qid, id, cosine, rk).
    */
  def ivfAdcSearch(idx: IvfAdcIndex, queries: DataFrame, k: Int,
                   nprobe: Int = 4): DataFrame = {
    val cbc = collectCodebooks(idx.codebooks)
    val q = normalized(queries).select(col("id").as("qid"),
      col("unit").as("qunit"))
    val qProbes = q.crossJoin(broadcast(idx.cents))
      .select(col("qid"), col("qunit"), col("cid"),
        dot("qunit", "cunit").as("sim"), col("cunit"))
      .withColumn("rk", row_number().over(Window.partitionBy("qid")
        .orderBy(col("sim").desc, col("cid"))))
      .filter(col("rk") <= nprobe)
      .select(col("qid"), col("cid").as("ccid"), col("sim").as("qc"),
        zip_with(col("qunit"), col("cunit"), (a, b) => a - b).as("unit"))
    val lutProbes = qProbes
      .withColumn("lut", lutColumn(cbc)).drop("unit")
    val scored = idx.index.join(broadcast(lutProbes), "ccid")
      .filter(col("id") =!= col("qid"))
      .select(col("qid"), col("id"),
        (col("qc") + adcScore(col("codes"), col("lut"))).as("cosine"))
    rankTopK(scored, k)
  }

  def ivfAdcTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                 nCells: Int = 16, nprobe: Int = 4,
                 m: Int = 8, ksub: Int = 16): DataFrame = {
    val idx = ivfAdcIndex(corpus, nCells, m, ksub)
    val out = graft.core.Materialize.releasing(
      ivfAdcSearch(idx, queries, k, nprobe), Nil)
    idx.release()
    out
  }

  /** Two-stage retrieval (the production IVFADC deployment shape,
    * Jégou et al. §V.C): the compressed-domain search shortlists
    * `shortlist` candidates per query, then ONLY those rows are
    * re-scored with exact cosine against the original vectors and the
    * top `k` re-ranked. Quantization error affects candidate
    * GENERATION only — the final scores and order are exact over the
    * shortlist — and the exact pass touches `queries × shortlist`
    * rows, not the corpus: the join back to the embeddings is
    * id-keyed on a shortlist that is broadcast-sized by construction.
    * Returns (qid, id, cosine, rk) with exact cosines.
    */
  def ivfAdcRerank(idx: IvfAdcIndex, corpus: DataFrame,
                   queries: DataFrame, k: Int, shortlist: Int = 0,
                   nprobe: Int = 4): DataFrame = {
    val c0 = if (shortlist > 0) shortlist else 4 * k
    val cand = ivfAdcSearch(idx, queries, c0, nprobe)
      .select(col("qid"), col("id"))
    val cvec = normalized(corpus)
    val q = normalized(queries).select(col("id").as("qid"),
      col("unit").as("qunit"))
    val scored = cand
      .join(cvec, "id")
      .join(broadcast(q), "qid")
      .select(col("qid"), col("id"), dot("unit", "qunit").as("cosine"))
    rankTopK(scored, k)
  }

  /** IVF ANN: bucket corpus by nearest centroid; queries probe the
    * `nprobe` nearest centroids; exact scoring within probed buckets.
    * Returns (qid, id, cosine, rk) — approximate top-k.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nCentroids: Int = 16, nprobe: Int = 4): DataFrame = {
    val cents0 = ivfCentroids(corpus, nCentroids)
    val cents =
      if (graft.core.Materialize.isLocal(cents0)) cents0 else cents0.cache()
    val c = normalized(corpus)
    val cBucketed = assignNearest(c, cents)
      .select(col("id"), col("unit"), col("cid"))
    val q = normalized(queries).select(col("id").as("qid"),
      col("unit").as("qunit"))
    val qProbes = q.crossJoin(broadcast(cents))
      .select(col("qid"), col("qunit"), col("cid"),
        dot("qunit", "cunit").as("sim"))
      .withColumn("rk", row_number().over(Window.partitionBy("qid")
        .orderBy(col("sim").desc, col("cid"))))
      .filter(col("rk") <= nprobe)
      .select(col("qid"), col("qunit"), col("cid"))
    val scored = qProbes.join(cBucketed, "cid")
      .filter(col("id") =!= col("qid"))
      .select(col("qid"), col("id"), dot("unit", "qunit").as("cosine"))
    graft.core.Materialize.releasing(rankTopK(scored, k), Seq(cents))
  }
}
