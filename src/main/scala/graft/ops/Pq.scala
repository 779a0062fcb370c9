package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.PqFns

/** Product quantization (PQ) — the vector-compression path for
  * similarity search at 100 TB (Jégou et al. 2011; same role as the
  * PQ stage of FAISS-style IVF-PQ indexes). The D-dim corpus is
  * encoded as M per-subspace codewords: 64-dim floats (256 B) become
  * M=8 ints (≤8 B), a 32× memory cut, so the searchable index of a
  * 10¹⁰-vector corpus fits in cluster RAM while the raw vectors stay
  * on cold storage.
  *
  * All data-scale steps are map-side codegen'd Expressions over
  * broadcast codebooks (zero shuffle): encoding (`pq_encode`) and
  * asymmetric-distance scoring (`pq_adc`). Driver materialization is
  * codebook-scale only (M×K×dSub floats — the build side of a
  * broadcast), never data-scale:
  *  - seeds: K vectors by hash order (TakeOrderedAndProject, K rows);
  *  - Lloyd pass: map-side re-encode, one (sub, code, dim) aggregate
  *    (M×K×dSub grouped rows), collected to rebuild the codebooks.
  *
  * At full scale this composes with IVF: cluster into cells first
  * (graft.ops.Ivf), PQ-encode residuals per cell, scan only probed
  * cells. Here the search scans all codes (the corpus is the probe
  * set) — the compression, not the candidate pruning, is what PQ
  * itself contributes.
  */
object Pq {

  /** Train per-subspace codebooks: M subspaces, K codewords each,
    * `iters` Lloyd passes. @return [M][K][dSub] matrix.
    *
    * Training runs driver-local over a bounded hash-ordered sample
    * (`sampleCap` rows — independent of corpus size, so the collect is
    * metadata-scale at 100 TB too). This is how production PQ indexes
    * are trained: FAISS fits codebooks on a 10⁴–10⁶-point sample, never
    * the corpus — only ENCODING must see every vector, and that stays a
    * map-side codegen'd expression here. `sampleCap <= 0` falls back to
    * full-corpus distributed Lloyd (one encode + one (sub,code,dim)
    * aggregate job per pass) for when the codebooks must see all data.
    */
  def train(vectors: DataFrame, idCol: String, embCol: String,
            m: Int, k: Int, iters: Int,
            sampleCap: Int = 1 << 14): Array[Array[Array[Float]]] = {
    require(m > 0 && k > 0 && iters >= 0)
    if (sampleCap > 0)
      return trainLocal(vectors, idCol, embCol, m, k, iters, sampleCap)
    val dim = vectors.select(size(col(embCol))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by M=$m")
    val dSub = dim / m
    // seed codewords from K hash-ordered vectors (broadcast-build)
    val seeds = vectors.orderBy(hash(col(idCol))).limit(k)
      .select(col(embCol).cast("array<float>")).collect()
      .map(_.getSeq[Float](0).toArray)
    var cbs = Array.tabulate(m, k)((s, j) =>
      seeds(j % seeds.length).slice(s * dSub, (s + 1) * dSub))
    var it = 0
    while (it < iters) {
      // map-side encode, then per-(sub, code, dim) mean
      val means = vectors
        .select(col(embCol).cast("array<float>").as("emb"),
          PqFns.pq_encode(col(embCol).cast("array<float>"), cbs).as("codes"))
        .select(posexplode(col("codes")).as(Seq("sub", "code")), col("emb"))
        .select(col("sub"), col("code"),
          posexplode(slice(col("emb"), col("sub") * dSub + 1, lit(dSub)))
            .as(Seq("i", "v")))
        .groupBy(col("sub"), col("code"), col("i"))
        .agg(avg(col("v")).as("cv"))
        .collect()
      val next = cbs.map(_.map(_.clone())) // empty clusters keep old codeword
      means.foreach { r =>
        next(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getDouble(3).toFloat
      }
      cbs = next
      it += 1
    }
    cbs
  }

  /** Driver-local Lloyd over one bounded sample collect: the same
    * seeding (first K by `hash(id)` order), the same argmin-L2 encode
    * ([[graft.functions.PqFns.encode]] keeps the lowest code on ties),
    * the same per-(sub, code, dim) mean with empty clusters keeping
    * their old codeword — minus `iters` distributed jobs.
    */
  private def trainLocal(vectors: DataFrame, idCol: String, embCol: String,
                         m: Int, k: Int, iters: Int,
                         sampleCap: Int): Array[Array[Array[Float]]] = {
    val sample = vectors.orderBy(hash(col(idCol))).limit(math.max(k, sampleCap))
      .select(col(embCol).cast("array<float>")).collect()
      .map(_.getSeq[Float](0).toArray)
    require(sample.nonEmpty, "PQ training needs at least one vector")
    val dim = sample(0).length
    require(dim % m == 0, s"dim $dim not divisible by M=$m")
    val dSub = dim / m
    val seeds = sample.take(k)
    var cbs = Array.tabulate(m, k)((s, j) =>
      seeds(j % seeds.length).slice(s * dSub, (s + 1) * dSub))
    var it = 0
    while (it < iters) {
      val sums = Array.fill(m, k, dSub)(0.0)
      val counts = Array.fill(m, k)(0L)
      sample.foreach { vec =>
        var s = 0
        while (s < m) {
          val cb = cbs(s)
          val off = s * dSub
          var best = 0; var bestD = Double.MaxValue
          var c = 0
          while (c < k) {
            val cw = cb(c)
            var d2 = 0.0; var d = 0
            while (d < dSub) {
              val diff = vec(off + d).toDouble - cw(d); d2 += diff * diff; d += 1
            }
            if (d2 < bestD) { bestD = d2; best = c }
            c += 1
          }
          counts(s)(best) += 1
          val acc = sums(s)(best)
          var d = 0
          while (d < dSub) { acc(d) += vec(off + d); d += 1 }
          s += 1
        }
      }
      cbs = Array.tabulate(m, k)((s, c) =>
        if (counts(s)(c) == 0L) cbs(s)(c) // empty cluster keeps old codeword
        else {
          val n = counts(s)(c).toDouble
          sums(s)(c).map(x => (x / n).toFloat)
        })
      it += 1
    }
    cbs
  }

  /** PQ codes per vector: (idCol as cand_id, codes array<int>). */
  def encode(vectors: DataFrame, idCol: String, embCol: String,
             cbs: Array[Array[Array[Float]]]): DataFrame =
    vectors.select(col(idCol).as("cand_id"),
      PqFns.pq_encode(col(embCol).cast("array<float>"), cbs).as("codes"))

  /** Codebooks as a small DataFrame (sub, code, centroid) — for
    * materializing next to the codes so a downstream consumer (or the
    * verification oracle) can score independently.
    */
  def codebooksDF(spark: org.apache.spark.sql.SparkSession,
                  cbs: Array[Array[Array[Float]]]): DataFrame = {
    import spark.implicits._
    cbs.zipWithIndex.flatMap { case (sub, s) =>
      sub.zipWithIndex.map { case (cw, c) => (s, c, cw.toSeq) }
    }.toSeq.toDF("sub", "code", "centroid")
  }

  /** Top-k by asymmetric distance: each query keeps its exact
    * embedding; candidates are scored from their 8-byte codes alone.
    *
    * r21: scoring goes through the standard per-query ADC lookup
    * table (Jégou et al. §IV.A / FAISS precomputed tables) — the
    * M·K·dSub table is built ONCE per query on the broadcast side,
    * so each of the |Q|·|C| candidate scores is M array reads + M
    * adds instead of M·dSub multiply-adds. Table entries are the
    * exact per-subspace sums of pq_adc and are summed in the same
    * order → bit-identical distances (oracle replays unchanged).
    */
  def searchTopK(queries: DataFrame, queryIdCol: String, queryEmbCol: String,
                 codes: DataFrame, cbs: Array[Array[Array[Float]]],
                 topK: Int): DataFrame = {
    val k = cbs(0).length
    val q = queries.select(col(queryIdCol).as("query_id"),
        col(queryEmbCol).cast("array<float>").as("q_emb"))
      .withColumn("q_lut", PqFns.pq_adc_lut(col("q_emb"), cbs))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_dist"), col("cand_id"))
    codes.join(broadcast(q), col("query_id") =!= col("cand_id"))
      .withColumn("adc_dist", PqFns.pq_adc_from_lut(col("q_lut"), col("codes"), k))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= topK)
      .select(col("query_id"), col("rk"), col("cand_id"), col("adc_dist"))
  }

  /** Exact squared-L2 in double, summed left-to-right element order —
    * the refine metric, folded identically by the DuckDB oracle's
    * list_aggregate so reranked distances are bit-comparable.
    */
  def l2sq(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) =>
        (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, x) => acc + x)

  /** ADC shortlist + exact re-rank — "re-ranking with source coding"
    * (Jégou/Tavenard/Douze/Amsaleg 2011; the FAISS `IndexRefineFlat`
    * shape): retrieve topK·refine candidates by compressed-code ADC,
    * then score ONLY that shortlist with exact L2 over the raw
    * embeddings and keep topK. recall@k of the refined search equals
    * recall@(k·refine) of the ADC scan, which is the recall lever
    * that works on isotropic data: OPQ-style rotations exploit
    * inter-dimension correlation, of which an isotropic fixture has
    * none by construction (rotation-invariant distribution), while
    * enlarging the candidate pool attacks quantization noise
    * directly (BASELINE.md, sf1: plain ADC 0.453 → refined 1.000 at
    * refine=10; sf0.01: 0.533 → 0.967). Scale shape: the shortlist
    * is |Q|·topK·refine rows —
    * query-scale, not corpus-scale — so the rerank join reads a
    * vanishing fraction of the raw vectors (which can stay on cold
    * storage); the corpus-scale scan still touches codes only.
    * @param cands (candIdCol, candEmbCol) raw vectors for the rerank join
    * @return (query_id, rk, cand_id, l2_dist)
    */
  def searchTopKRefined(queries: DataFrame, queryIdCol: String, queryEmbCol: String,
                        codes: DataFrame, cands: DataFrame,
                        candIdCol: String, candEmbCol: String,
                        cbs: Array[Array[Array[Float]]],
                        topK: Int, refine: Int = 10): DataFrame = {
    require(refine >= 1)
    val shortlist = searchTopK(queries, queryIdCol, queryEmbCol, codes, cbs,
        topK * refine)
      .select(col("query_id"), col("cand_id"))
    val q = queries.select(col(queryIdCol).as("query_id"),
      col(queryEmbCol).cast("array<float>").as("q_emb"))
    val c = cands.select(col(candIdCol).as("cand_id"),
      col(candEmbCol).cast("array<float>").as("c_emb"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("l2_dist"), col("cand_id"))
    shortlist.join(c, "cand_id").join(broadcast(q), "query_id")
      .withColumn("l2_dist", l2sq(col("q_emb"), col("c_emb")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= topK)
      .select(col("query_id"), col("rk"), col("cand_id"), col("l2_dist"))
  }
}
