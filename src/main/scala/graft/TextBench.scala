package graft

import graft.pipeline.{Dedup, Similarity, TextAnalysis, TextExtract}
import org.apache.spark.sql.functions._

/** Throughput bench for the LLM-training-data pipeline ops (dedup /
  * ANN / text analysis) — the non-spatial half of the engine's surface.
  *
  * Deterministic synthetic corpus: ~40-token docs, 5% planted exact
  * duplicates (every 20th doc reuses its successor's text → dup
  * clusters of size 2, a realistic near-dup rate; large clusters would
  * make the OUTPUT quadratic and measure pair enumeration instead of
  * signature/bucket cost). Embeddings: 64-dim xxhash64-derived floats.
  *
  * Env: SPARK_GRAFT_TEXT_N docs (default 1,000,000);
  * SPARK_GRAFT_TEXT_EMB corpus size for ANN (default 200,000);
  * SPARK_GRAFT_CPUS. One JSON line out, seconds + rows/s per stage.
  */
object TextBench {
  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("SPARK_GRAFT_TEXT_N", "1000000").toLong
    val nEmb = sys.env.getOrElse("SPARK_GRAFT_TEXT_EMB", "200000").toLong
    val cpus = Session.cpus
    val spark = Session.local("graft-textbench", cpus)
    try {
      // every 20th doc reuses its successor's text → 5% dup pairs
      val textKey = when(pmod(col("id"), lit(20)) === 0,
        col("id") + 1).otherwise(col("id"))
      val docs = spark.range(n).select(
          col("id").as("doc_id"),
          concat_ws(" ", transform(sequence(lit(1), lit(40)),
            i => concat(lit("w"),
              pmod(xxhash64(textKey * lit(41) + i), lit(5000)))))
            .as("text"))
        .cache()
      docs.count() // materialize input outside timings

      def time(f: => Long): (Long, Double) = {
        val t0 = System.nanoTime()
        val r = f
        (r, (System.nanoTime() - t0) / 1e9)
      }
      // SPARK_GRAFT_TEXT_ONLY=cc,minhash runs just those stages (others
      // report -1) — focused A/B runs without paying the whole suite,
      // same hygiene as Bench's SPARK_GRAFT_ONLY
      val only: Option[Set[String]] = sys.env.get("SPARK_GRAFT_TEXT_ONLY")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      def gate(name: String)(f: => (Long, Double)): (Long, Double) =
        if (only.forall(_.contains(name))) f else (0L, -1.0)

      val (_, tExact) = gate("exact")(time(Dedup.exact(docs).count()))
      val (mhPairs, tMinhash) = gate("minhash")(time(Dedup.minhashLsh(docs).count()))
      val (shPairs, tSimhash) = gate("simhash")(time(Dedup.simhashDup(docs).count()))
      val (_, tLang) = gate("langid")(time(TextAnalysis.languageId(docs).count()))
      // quality + repetition are pure column projections: a bare
      // count() prunes the whole computation (the model_score /
      // pq_encode lesson) — consume an aggregate over computed columns
      val (_, tQual) = gate("quality")(time {
        TextAnalysis.qualityScore(docs)
          .agg(sum(col("quality") + col("stopword_ratio"))).head(); n
      })
      val (_, tFp) = gate("fingerprint")(time(TextAnalysis.fingerprint(docs).count()))
      // html wrap + extract (the WARC ingest path's per-page cost);
      // the wrapped corpus is built+cached only when the stage runs
      val (_, tExtract) =
        if (only.forall(_.contains("extract"))) {
          val html = docs.select(col("doc_id"),
            concat(lit("<html><body><p>"), col("text"),
              lit("</p><script>var x=1;</script></body></html>"))
              .cast("binary").as("html"),
            lit(null).cast("string").as("text")).cache()
          html.count()
          val r = time(TextExtract.withText(html)
            .select(sum(length(col("text")))).head().getLong(0))
          html.unpersist(false)
          r
        } else (0L, -1.0)

      // curation family: repetition stats, decontamination (bench =
      // every 997th doc, ~0.1% — realistic benchmark:corpus ratio),
      // url-level dedup over minted messy spellings, corpus-wide
      // paragraph dedup with planted boilerplate, PII scrub, vocab
      val (_, tRep) = gate("repetition")(time {
        TextAnalysis.repetitionStats(docs)
          .agg(sum(col("dup_trigram_frac") + col("n_words"))).head(); n
      })
      val benchSet = docs.filter(pmod(col("doc_id"), lit(997)) === 0)
      val (_, tDecon) = gate("decontaminate")(time(
        graft.pipeline.Curation.decontaminate(docs, benchSet).count()))
      val pages = docs.select(
        concat(lit("https://site-"),
          pmod(col("doc_id"), lit(5000)).cast("string"),
          when(pmod(col("doc_id"), lit(3)) === 0, lit(".example/p/"))
            .otherwise(lit(".EXAMPLE/p/")),
          (col("doc_id") % 200000).cast("string"),
          when(pmod(col("doc_id"), lit(2)) === 0,
            lit("?utm_source=x")).otherwise(lit("#f"))).as("url"),
        timestamp_seconds(lit(1704067200L) + col("doc_id") % 86400)
          .as("warc_ts"))
      val (_, tUrl) = gate("url_dedup")(time(
        graft.pipeline.Webtext.urlDedup(pages).count()))
      val pDocs = docs.select(col("doc_id"),
        concat(lit("shared header\n"), col("text"), lit("\nfooter "),
          pmod(col("doc_id"), lit(7)).cast("string")).as("text"))
      // consume text_dedup so reassembly is inside the timing
      val (_, tPara) = gate("paragraph_dedup")(time(Dedup.paragraphDedup(pDocs)
        .select(sum(length(col("text_dedup")))).head().getLong(0)))
      val piiDocs = docs.select(col("doc_id"),
        concat(col("text"), lit(" user"), col("doc_id").cast("string"),
          lit("@ex.org +1 555-000-1234 at 10.0.0.7")).as("text"))
      val (_, tRedact) = gate("pii_redact")(time(TextAnalysis.redactPii(piiDocs)
        .select(sum(col("n_emails") + col("n_phones") + col("n_ips")))
        .head().getLong(0)))
      val (_, tVocab) = gate("vocab_topk")(time(
        graft.pipeline.Curation.vocabTopK(docs, k = 1000).count()))
      // heavy-hitters sketch A/B on an UNBOUNDED-vocabulary corpus: the
      // standard bench corpus caps at 5000 distinct tokens, where both
      // paths are cheap; a web corpus's vocabulary grows with the data,
      // so this corpus draws half of every doc's tokens from a
      // near-unique tail (~n*20 distinct) — the regime the groupBy
      // shuffle scales with the vocabulary and the sketch does not
      val hcDocs = spark.range(n).select(
          col("id").as("doc_id"),
          concat_ws(" ", transform(sequence(lit(1), lit(40)),
            i => when(pmod(i, lit(2)) === 0,
              concat(lit("w"),
                pmod(xxhash64(col("id") * lit(41) + i), lit(5000))))
              .otherwise(concat(lit("u"), col("id") * lit(40) + i))))
            .as("text"))
      val (_, tVocabHcExact) = gate("vocab_sketch")(time(
        graft.pipeline.Curation.vocabTopK(hcDocs, k = 1000).count()))
      val (_, tVocabHcSketch) = gate("vocab_sketch")(time(
        graft.pipeline.Curation.vocabTopKSketch(hcDocs, k = 1000,
          capacity = 65536).count()))
      // model-based quality gate: 64k-bucket hashed linear scorer
      val wModel = spark.range(65536).select(col("id").as("bucket"),
        (col("id") * 2654435761L % 2000 / lit(1000.0) - 1.0).as("weight"))
      // consume the scores (a bare count lets Catalyst eliminate the
      // unique-keyed left join and skip the scorer entirely)
      val (_, tModel) = gate("model_score")(time {
        graft.pipeline.Curation.hashedLinearScore(docs, wModel,
          dim = 65536).agg(sum(col("prob"))).head(); n
      })
      // token-budget training-mix draw: 8 minted language strata,
      // budget = 1/16 of each stratum's tokens (forces the boundary
      // bucket's partial window in every stratum)
      val langDocs = docs.withColumn("lang",
        concat(lit("l"), pmod(col("doc_id"), lit(8)).cast("string")))
      val (_, tBudget) = gate("token_budget")(time(
        graft.pipeline.Curation.tokenBudgetSample(langDocs, Seq("lang"),
          budgetTokens = n / 8 * 40 / 16, idCol = "doc_id").count()))
      // unigram log-prob gate: 64k-term vocab broadcast
      val (_, tLogp) = gate("unigram_logp")(time {
        graft.pipeline.Curation.unigramLogProb(docs, vocabK = 65536)
          .agg(sum(col("avg_logp"))).head(); n
      })
      // near-dup cluster resolution: connected components over a
      // Lehmer functional graph on the same doc ids (~2/3 n edges;
      // mixed chains/trees/cycles — the dedup-graph shape)
      val ccEdges = docs.select(col("doc_id").as("id_a"),
          (col("doc_id") * 48271 % 2147483647L % n).as("id_b"))
        .filter(col("id_a") % 3 =!= 0)
      val (_, tCc) = gate("cc")(time(graft.cluster.Components
        .connected(ccEdges, nodes = Some(docs.select(
          col("doc_id").as("id")))).count()))

      // the embedding corpus is minted+cached only when an ANN stage runs
      val (tBrute, tIvf, (tPq, tPqEnc), (tAdcIdx, tAdcSearch, tIvfAdc), tSem) =
        if (only.forall(o => o.contains("ann_brute") || o.contains("ann_ivf")
            || o.contains("ann_ivfadc") || o.contains("pq_encode")
            || o.contains("pq_encode_only")
            || o.contains("semantic_dedup"))) {
          val emb = spark.range(nEmb).select(
              col("id").as("vec_id"),
              transform(sequence(lit(1), lit(64)),
                d => (pmod(xxhash64(col("id") * lit(67) + d), lit(2000L))
                  .cast("float") / 1000.0f - 1.0f)).as("embedding"))
            .cache()
          emb.count()
          val queries = emb.filter(
            pmod(col("vec_id"), lit(math.max(1L, nEmb / 256))) === 0)
          val tb = gate("ann_brute")(time(
            Similarity.bruteTopK(emb, queries, k = 10).count()))._2
          val ti = gate("ann_ivf")(time(
            Similarity.ivfTopK(emb, queries, k = 10).count()))._2
          // PQ encode throughput (the pure-scan claim measured), then
          // IVFADC with build and search timed separately — the index
          // builds once and amortizes over query batches, the search
          // is the per-batch cost that competes with IVF's exact dots
          // consume via bit_xor(xxhash64(codes)): a bare count() lets Catalyst
          // prune the codes projection and measures nothing (the
          // model_score lesson, same class)
          val tpq = gate("pq_encode")(time {
            Similarity.pqEncode(emb,
                Similarity.pqTrain(emb, m = 8, ksub = 16))
              .select(bit_xor(xxhash64(col("codes")))).head(); nEmb
          })._2
          // encode alone (codebook pre-trained and cached so the
          // encoder's internal collect doesn't recompute the sweep):
          // the pure-scan claim — the stage whose scaling should track
          // the core count
          val tpqe =
            if (only.forall(_.contains("pq_encode_only"))) {
              val cb = Similarity.pqTrain(emb, m = 8, ksub = 16).cache()
              cb.count()
              val t0 = System.nanoTime()
              Similarity.pqEncode(emb, cb)
                .select(bit_xor(xxhash64(col("codes")))).head()
              val t = (System.nanoTime() - t0) / 1e9
              cb.unpersist(false)
              t
            } else -1.0
          val (tIdx, tSearch) =
            if (only.forall(_.contains("ann_ivfadc"))) {
              val t0 = System.nanoTime()
              val idx = Similarity.ivfAdcIndex(emb,
                nCells = 16, m = 8, ksub = 16)
              val cached = idx.index.cache()
              cached.count() // materialize: a deployed index is stored
              val ti1 = (System.nanoTime() - t0) / 1e9
              val (_, ti2) = time(
                Similarity.ivfAdcSearch(idx.copy(index = cached), queries,
                  k = 10, nprobe = 4).count())
              cached.unpersist(false)
              idx.release()
              (ti1, ti2)
            } else (-1.0, -1.0)
          val tia = tIdx + tSearch
          // semantic dedup over the same minted corpus: k-means
          // (scattered seeds) + cluster-keyed exact cosine + CC + keep
          // rule — the full SemDeDup resolution, not just pair finding
          val semTarget = sys.env.getOrElse("SPARK_GRAFT_SEM_TARGET",
            "1024").toInt
          val semTwoLevelK = sys.env.getOrElse("SPARK_GRAFT_SEM_TWOLEVELK",
            "4096").toInt
          // SPARK_GRAFT_SEM_NCLUSTERS forces an explicit (undersized)
          // k — the hot-cell regime the occupancy telemetry warns
          // about; SPARK_GRAFT_SEM_SPLIT opts into the oversized-cell
          // sub-clustering so the mitigation is A/B-able
          val semK = sys.env.getOrElse("SPARK_GRAFT_SEM_NCLUSTERS",
            "0").toInt
          val semSplit = sys.env.getOrElse("SPARK_GRAFT_SEM_SPLIT",
            "0").toInt
          val ts = gate("semantic_dedup")(time(
            Dedup.semanticDedup(emb, threshold = 0.8,
              targetCluster = semTarget, nClusters = semK,
              twoLevelK = semTwoLevelK, splitOversized = semSplit)
              .count()))._2
          emb.unpersist(false)
          (tb, ti, (tpq, tpqe), (tIdx, tSearch, tia), ts)
        } else (-1.0, -1.0, (-1.0, -1.0), (-1.0, -1.0, -1.0), -1.0)
      docs.unpersist(false)

      val r = (t: Double) => if (t > 0) math.round(n / t) else -1L
      println(s"""{"metric":"text_pipeline","n":$n,"n_emb":$nEmb,"cpus":"$cpus","unit":"sec","exact_dedup_sec":$tExact,"exact_dedup_rows_per_sec":${r(tExact)},"minhash_sec":$tMinhash,"minhash_rows_per_sec":${r(tMinhash)},"minhash_pairs":$mhPairs,"simhash_sec":$tSimhash,"simhash_rows_per_sec":${r(tSimhash)},"simhash_pairs":$shPairs,"langid_sec":$tLang,"langid_rows_per_sec":${r(tLang)},"quality_sec":$tQual,"quality_rows_per_sec":${r(tQual)},"fingerprint_sec":$tFp,"fingerprint_rows_per_sec":${r(tFp)},"extract_sec":$tExtract,"extract_rows_per_sec":${r(tExtract)},"repetition_sec":$tRep,"repetition_rows_per_sec":${r(tRep)},"decontaminate_sec":$tDecon,"decontaminate_rows_per_sec":${r(tDecon)},"url_dedup_sec":$tUrl,"url_dedup_rows_per_sec":${r(tUrl)},"paragraph_dedup_sec":$tPara,"paragraph_dedup_rows_per_sec":${r(tPara)},"pii_redact_sec":$tRedact,"pii_redact_rows_per_sec":${r(tRedact)},"vocab_topk_sec":$tVocab,"vocab_topk_rows_per_sec":${r(tVocab)},"vocab_hc_exact_sec":$tVocabHcExact,"vocab_hc_sketch_sec":$tVocabHcSketch,"model_score_sec":$tModel,"model_score_rows_per_sec":${r(tModel)},"cc_sec":$tCc,"cc_rows_per_sec":${r(tCc)},"token_budget_sec":$tBudget,"token_budget_rows_per_sec":${r(tBudget)},"unigram_logp_sec":$tLogp,"unigram_logp_rows_per_sec":${r(tLogp)},"ann_brute_sec":$tBrute,"ann_ivf_sec":$tIvf,"pq_encode_sec":$tPq,"pq_encode_only_sec":$tPqEnc,"ann_ivfadc_sec":$tIvfAdc,"ivfadc_index_sec":$tAdcIdx,"ivfadc_search_sec":$tAdcSearch,"semantic_dedup_sec":$tSem}""")
    } finally spark.stop()
  }
}
