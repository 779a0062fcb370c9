package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.functions.cosine_sim

/** IVF (inverted-file) approximate nearest neighbor over an embedding
  * column — the scale path for similarity search at 100 TB: cluster
  * the corpus into `k` cells, index each vector in its nearest cell,
  * and probe only `nprobe` cells per query, shrinking the candidate
  * set ~k/nprobe× vs brute force.
  *
  * No driver-side loops over data — the only driver materialization is
  * the k-row centroid matrix (metadata-scale, the build side of a
  * broadcast):
  *  - seeds: `orderBy(hash(id)).limit(k)` (TakeOrderedAndProject — the
  *    only global step, k rows);
  *  - assign: a map-side codegen'd `nearest_cells` projection over the
  *    broadcast centroid matrix — zero shuffle (the round-2 form
  *    crossJoined n×k rows through a Window exchange);
  *  - Lloyd refinement: assign + recompute (posexplode → per-(cell,dim)
  *    avg → array re-assembly): one shuffle per pass, independent of
  *    executor count;
  *  - search: probe join shuffles on the cell id, per-query top-k via
  *    row_number (pre-shuffle WindowGroupLimit).
  *
  * `k` defaults to ≈√n (the standard IVF sizing) via a single count();
  * distance is cosine (spherical k-means).
  */
object Ivf {

  /** Probe-count default that grows with the cell count —
    * nprobe = max(2, ⌈√cells / 4⌉) — so recall holds as the index
    * scales: with the standard cells ≈ √n sizing, a fixed nprobe
    * probes a vanishing fraction of the corpus as n grows (the r10
    * recall probe in BASELINE.md measured exactly that: recall flat sf0.1→sf1 only
    * because nprobe=2 was already the floor at both scales). With
    * this default the probed FRACTION still shrinks (√cells/4 of
    * cells ≈ n^(1/4)/4 of the data) so search stays sub-linear, but
    * the probed cell count tracks the neighborhood spread of the
    * coarse quantizer. BASELINE.md records the nprobe sweep: in the
    * dense regime (sf1 fixture, 20k vectors, near-dup structure) the
    * true neighbors share the query's cell and coverage is 1.0 from
    * nprobe=2 up; in the sparse isotropic regime (≤2k vectors,
    * neighbors genuinely non-local) refined recall ≈ probe coverage
    * and grows with nprobe (sf0.01: 0.47@2 → 0.77@8), so sparse
    * corpora should pass nprobe explicitly.
    */
  def defaultNprobe(cells: Int): Int =
    math.max(2, math.ceil(math.sqrt(cells.toDouble) / 4.0).toInt)

  /** k-means centroids after `iters` Lloyd passes.
    *
    * Trains driver-local over a bounded hash-ordered sample
    * (`sampleCap` rows — independent of corpus size, so the collect
    * stays metadata-scale at 100 TB): the FAISS practice of fitting the
    * coarse quantizer on a sample while only the ASSIGNMENT (a map-side
    * codegen'd expression here) sees every vector. `sampleCap <= 0`
    * falls back to fully distributed Lloyd passes (one assign +
    * recompute shuffle per pass) for when the centroids must be fit on
    * the whole corpus.
    * @return (cell: int, centroid: array<float>)
    */
  def centroids(vectors: DataFrame, idCol: String, embCol: String,
                k: Int, iters: Int, sampleCap: Int = 1 << 14): DataFrame = {
    require(k > 0 && iters >= 0)
    if (sampleCap > 0)
      return centroidsLocal(vectors, idCol, embCol, k, iters, sampleCap)
    val seedW = Window.orderBy(hash(col(idCol))) // k rows only
    var cents = vectors.orderBy(hash(col(idCol))).limit(k)
      .select(row_number().over(seedW).as("cell"),
              col(embCol).as("centroid"))
    var i = 0
    while (i < iters) {
      cents = recompute(assign(vectors, idCol, embCol, cents, 1)
        .select(col("cell"), col(embCol)), embCol)
      i += 1
    }
    cents
  }

  /** Driver-local spherical Lloyd over one bounded sample collect —
    * the same seeding (first k by `hash(id)` order, cells numbered
    * 1..k), the same cosine argmax with (sim desc, cell asc) ties
    * ([[graft.functions.NearestCells]]), the same per-dimension mean
    * with empty cells dropping out — minus the per-pass distributed
    * assign/recompute jobs (whose DataFrame lineage re-executed every
    * earlier pass on each iteration).
    */
  private def centroidsLocal(vectors: DataFrame, idCol: String, embCol: String,
                             k: Int, iters: Int, sampleCap: Int): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val sample = vectors.orderBy(hash(col(idCol))).limit(math.max(k, sampleCap))
      .select(col(embCol).cast("array<float>")).collect()
      .map(_.getSeq[Float](0).toArray)
    require(sample.nonEmpty, "k-means needs at least one vector")
    var cells: Array[Int] = Array.tabulate(math.min(k, sample.length))(_ + 1)
    var cents: Array[Array[Float]] = sample.take(k).map(_.clone())
    var i = 0
    while (i < iters) {
      val dim = cents.map(_.length).max
      val norms = cents.map(c => math.sqrt(c.foldLeft(0.0)((a, x) => a + x.toDouble * x)))
      val sums = Array.fill(cents.length, dim)(0.0)
      val counts = Array.fill(cents.length)(0L)
      sample.foreach { vec =>
        val vnorm = math.sqrt(vec.foldLeft(0.0)((a, x) => a + x.toDouble * x))
        var best = 0; var bestSim = Double.NegativeInfinity
        var c = 0
        while (c < cents.length) {
          val cent = cents(c)
          val lim = math.min(vec.length, cent.length)
          var dot = 0.0; var d = 0
          while (d < lim) { dot += vec(d).toDouble * cent(d); d += 1 }
          val sim = if (vnorm == 0.0 || norms(c) == 0.0) 0.0 else dot / (vnorm * norms(c))
          // strict > keeps the lowest cell id on ties, like NearestCells
          if (sim > bestSim) { bestSim = sim; best = c }
          c += 1
        }
        counts(best) += 1
        val acc = sums(best)
        var d = 0
        while (d < math.min(vec.length, dim)) { acc(d) += vec(d); d += 1 }
      }
      val keep = cells.indices.filter(counts(_) > 0L) // empty cells drop out
      cells = keep.map(cells).toArray
      cents = keep.map(c => sums(c).map(x => (x / counts(c)).toFloat)).toArray
      i += 1
    }
    cells.zip(cents).toSeq.map { case (c, v) => (c, v.toSeq) }
      .toDF("cell", "centroid")
  }

  /** Collect the (small) centroid table to the driver as a matrix —
    * the build step of a broadcast: identical driver→executor shipping
    * to what `broadcast(cents)` did, k rows of metadata (k ≈ √n; at
    * n=10¹⁰, dim=10³ that's ~400 MB worst case, a standard broadcast
    * size), NOT a collect over data-scale rows.
    */
  private def centroidMatrix(cents: DataFrame): (Array[Int], Array[Array[Float]]) = {
    val rows = cents.select(col("cell").cast("int"),
        col("centroid").cast("array<float>"))
      .collect().sortBy(_.getInt(0))
    (rows.map(_.getInt(0)),
     rows.map(_.getSeq[Float](1).toArray))
  }

  /** Assign each vector to its `nprobe` nearest cells (rank 1 = index
    * cell; ranks 2..nprobe = extra probe cells for queries).
    *
    * Map-side: a single codegen'd [[graft.functions.NearestCells]]
    * projection over the broadcast centroid matrix — no join, no
    * Window, and critically no Exchange. The previous form
    * (crossJoin(broadcast) + row_number over vec_id) exploded n×k rows
    * through a shuffle: at n=10¹⁰, k=10⁵ that is a 10¹⁵-row Exchange —
    * the one scale-killer flagged in round 2.
    * @return input columns + (cell, cell_rank)
    */
  def assign(vectors: DataFrame, idCol: String, embCol: String,
             cents: DataFrame, nprobe: Int): DataFrame = {
    val (cells, matrix) = centroidMatrix(cents)
    vectors
      .select(col("*"),
        posexplode(graft.functions.VectorFns.nearest_cells(
          col(embCol), cells, matrix, nprobe)).as(Seq("__p", "cell")))
      .withColumn("cell_rank", (col("__p") + 1).cast("int"))
      .drop("__p")
  }

  /** New centroids = per-cell per-dimension mean, re-assembled in
    * dimension order. Empty cells drop out (standard Lloyd behavior).
    */
  private def recompute(assigned: DataFrame, embCol: String): DataFrame =
    assigned.select(col("cell"), posexplode(col(embCol)).as(Seq("pos", "v")))
      .groupBy(col("cell"), col("pos")).agg(avg(col("v")).as("cv"))
      .groupBy(col("cell"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("cv")))),
        x => x.getField("cv").cast("float")).as("centroid"))

  /** End-to-end IVF top-k: index every vector in its nearest cell,
    * probe each query's `nprobe` nearest cells, rank candidates by
    * cosine within the probed cells.
    *
    * @param queryPred which vectors are queries (they stay candidates too)
    * @param k number of cells; if <= 0, uses ceil(sqrt(n))
    * @return (query_id, cell, rk, cand_id, cos_sim)
    */
  def searchTopK(vectors: DataFrame, idCol: String, embCol: String,
                 queryPred: Column, topK: Int, nprobe: Int = 2,
                 k: Int = 0, iters: Int = 1): DataFrame = {
    val cellCount =
      if (k > 0) k
      else math.max(4, math.ceil(math.sqrt(vectors.count().toDouble)).toInt)
    val cents = centroids(vectors, idCol, embCol, cellCount, iters)
    val assigned = assign(vectors, idCol, embCol, cents, math.max(nprobe, 1))
    searchFromAssigned(assigned, idCol, embCol, queryPred, topK)
  }

  /** Probe + rank phase over an (already materialized) assignment
    * table — split out so callers can persist the assignment (the
    * production shape: index once, search many; also what lets the
    * DuckDB oracle replay the search over the identical rows).
    *
    * Filtered search (the FAISS `IDSelector` / vector-store
    * "namespace" analog): `candPred` is a metadata predicate applied
    * to candidates BEFORE the probe join — pre-filtering, never
    * post-filter-and-hope, so a selective filter SHRINKS the join
    * instead of starving top-k; `matchCols` are extra equality columns
    * added to the probe join key (tenant/partition isolation: a query
    * only ever meets candidates in its own namespace — at scale this
    * tightens the shuffle key from `cell` to `(cell, tenant)`, strictly
    * reducing per-task candidate volume).
    */
  def searchFromAssigned(assigned: DataFrame, idCol: String, embCol: String,
                         queryPred: Column, topK: Int,
                         candPred: Column = lit(true),
                         matchCols: Seq[String] = Nil): DataFrame = {
    val joinKey = "cell" +: matchCols
    val cands = assigned.filter(col("cell_rank") === 1 && candPred)
      .select((joinKey.map(col) :+ col(idCol).as("cand_id") :+ col(embCol).as("c_emb")): _*)
    val queries = assigned.filter(queryPred)
      .select((joinKey.map(col) :+ col(idCol).as("query_id") :+ col(embCol).as("q_emb")): _*)
    val wTop = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("cand_id"))
    queries.join(cands, joinKey)
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("cos_sim", cosine_sim(col("q_emb"), col("c_emb")))
      .withColumn("rk", row_number().over(wTop))
      .filter(col("rk") <= topK)
      .select((Seq(col("query_id")) ++ matchCols.map(col) ++
        Seq(col("cell"), col("rk"), col("cand_id"), col("cos_sim"))): _*)
  }
}
