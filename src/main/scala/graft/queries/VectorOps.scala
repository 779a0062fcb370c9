package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.functions.cosine_sim

/** Similarity search over the `embeddings` table (64-dim float
  * vectors): per-vector stats, cosine-similar pair mining, and
  * brute-force ANN top-k.
  *
  * Numeric parity with the oracle: every dot product casts each float
  * element to double and folds left-to-right — both Spark's
  * `aggregate(zip_with(...))` and DuckDB's
  * `list_aggregate(list_transform(...), 'sum')` evaluate the 64-term
  * sum sequentially in double, so results are bit-identical.
  *
  * Scale path: the pair join blocks on `label` (in production: IVF
  * cell or LSH bucket — see graft.functions for the hashing
  * primitives), so each Spark task joins one bucket; the top-k uses
  * per-partition selection, not a global sort.
  */
object VectorOps extends QueryModule {

  /** Σ aᵢ·bᵢ as an expression chain — kept for the stats query where
    * the oracle checks the raw sums. */
  private def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  private def norm(a: Column): Column = sqrt(dot(a, a))

  /** In-memory trained codebooks for the staged v50/v51 indexes, kept
    * in lockstep with the staged parquet (populated ONLY inside the
    * parquetGroupOnce closures, so a cache hit implies both disk and
    * memory carry the same training run). */
  private val pq50Cbs =
    scala.collection.concurrent.TrieMap[String, Array[Array[Array[Float]]]]()
  private val ivfpq51Cbs =
    scala.collection.concurrent.TrieMap[String, Array[Array[Array[Float]]]]()
  private val pq45Cbs =
    scala.collection.concurrent.TrieMap[String, Array[Array[Array[Float]]]]()
  private val ivfpq46Cbs =
    scala.collection.concurrent.TrieMap[String, Array[Array[Array[Float]]]]()

  def declared: Seq[Query] = Seq(
    // ---- Per-vector stats ---------------------------------------------
    Query("v40_vector_stats",
      """SELECT vec_id, label, len(embedding) AS dim,
        |  sqrt(list_aggregate(list_transform(generate_series(1, 64),
        |    i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)), 'sum')) AS l2_norm,
        |  list_aggregate(list_transform(generate_series(1, 64),
        |    i -> CAST(embedding[i] AS DOUBLE)), 'sum') AS sum_elems
        |FROM embeddings""".stripMargin) { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      e.select(col("vec_id"), col("label"),
        size(col("embedding")).as("dim"),
        norm(col("embedding")).as("l2_norm"),
        aggregate(col("embedding"), lit(0.0),
          (acc, x) => acc + x.cast("double")).as("sum_elems"))
    },

    // ---- Cosine-similar pairs within label blocks ---------------------
    Query("v41_cosine_pairs",
      s"""WITH n AS (
        |  SELECT label, vec_id, embedding,
        |    sqrt(${dotSql.format("embedding", "embedding")}) AS nrm
        |  FROM embeddings)
        |SELECT a.label, a.vec_id AS id_a, b.vec_id AS id_b,
        |  ${dotSql.format("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cos_sim
        |FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE ${dotSql.format("a.embedding", "b.embedding")} / (a.nrm * b.nrm) >= 0.35""".stripMargin) { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      // r21: hoist the norm terms out of the quadratic pair loop —
      // each side's sqrt(Σx²) is computed once per ROW before the
      // join, so the per-PAIR work is the dot alone (3× fewer
      // multiply-adds on the |bucket|²-shaped edge). Same accumulation
      // order and ÷/sqrt sequence as the fused cosine_sim →
      // bit-identical doubles (see functions.cosine_from_parts).
      val v = e.select(col("label"), col("vec_id"), col("embedding"),
        graft.functions.functions.l2norm(col("embedding")).as("nrm"))
      val a = v.select(col("label"), col("vec_id").as("id_a"),
        col("embedding").as("emb_a"), col("nrm").as("nrm_a"))
      val b = v.select(col("label"), col("vec_id").as("id_b"),
        col("embedding").as("emb_b"), col("nrm").as("nrm_b"))
      a.join(b, Seq("label")).filter(col("id_a") < col("id_b"))
        // 0.35 keeps the gate non-trivial at every SF (the fixture's
        // max within-label cosine is ~0.45–0.51 across sf0.001–sf0.1,
        // so a 0.5 cut matched zero rows and proved nothing).
        .withColumn("cos_sim", graft.functions.functions.cosine_from_parts(
          graft.functions.functions.dot_product(col("emb_a"), col("emb_b")),
          col("nrm_a"), col("nrm_b")))
        .filter(col("cos_sim") >= 0.35)
        .select(col("label"), col("id_a"), col("id_b"), col("cos_sim"))
    },

    // ---- IVF ANN — the scale path vs v42's brute force ----------------
    // graft.ops.Ivf: k ≈ √n cells (data-driven, not tied to the label
    // cardinality), one distributed Lloyd refinement pass, candidates
    // indexed in their nearest cell, queries probe nprobe=2 cells.
    // Candidate volume per query shrinks ~k/nprobe×; the probe join
    // shuffles on the cell id. No collect, no driver-side k-means loop.
    // The assignment table is materialized (index once, search many —
    // the production shape) and the oracle replays the probe join +
    // top-k over the identical rows with the bit-identical double fold.
    Query("v43_ivf_ann",
      s"""WITH a AS (SELECT * FROM read_parquet('__SIDE__/ivf_assign/*.parquet')),
        |n AS (SELECT vec_id, embedding,
        |        sqrt(${dotSql.format("embedding", "embedding")}) AS nrm
        |      FROM a WHERE cell_rank = 1),
        |cands AS (SELECT cell, vec_id AS cand_id FROM a WHERE cell_rank = 1),
        |qs AS (SELECT cell, vec_id AS query_id FROM a WHERE vec_id % 50 = 0),
        |scored AS (
        |  SELECT query_id, qs.cell AS cell, cand_id,
        |    ${dotSql.format("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cos_sim
        |  FROM qs JOIN cands ON qs.cell = cands.cell AND query_id <> cand_id
        |  JOIN n q ON q.vec_id = query_id
        |  JOIN n c ON c.vec_id = cand_id)
        |SELECT query_id, cell, rk, cand_id, cos_sim FROM (
        |  SELECT query_id, cell, cand_id, cos_sim,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |                       ORDER BY cos_sim DESC, cand_id) AS rk
        |  FROM scored) WHERE rk <= 3""".stripMargin) { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val n = e.count().toDouble
      val cents = graft.ops.Ivf.centroids(e, "vec_id", "embedding",
        k = math.max(4, math.ceil(math.sqrt(n)).toInt), iters = 1)
      val p = s"${Staging.sideDir(dir)}/ivf_assign"
      graft.ops.Ivf.assign(e, "vec_id", "embedding", cents, nprobe = 2)
        .select(col("vec_id"), col("embedding"), col("cell"), col("cell_rank"))
        .write.mode("overwrite").parquet(p)
      graft.ops.Ivf.searchFromAssigned(s.read.parquet(p), "vec_id", "embedding",
        queryPred = col("vec_id") % 50 === 0, topK = 3)
    },

    // ---- Embedding-cosine near-dup at scale: hyperplane LSH -----------
    // The scale path for v41's exact label-blocked all-pairs: 64
    // random-hyperplane sign bits per embedding (map-side codegen'd
    // expression, like minhash for text), banded into 4×16-bit chunks —
    // candidates only meet through chunk buckets (capped), then the
    // constant-size bits + exact cosine rerank join per UNIQUE pair.
    // Same linearity argument as the NearDup operators; the bits table
    // is materialized so the oracle can band the identical rows.
    Query("v44_embedding_lsh_pairs",
      s"""WITH s AS (SELECT * FROM read_parquet('__SIDE__/hyperplane_bits/*.parquet')),
        |chunks AS (SELECT vec_id, c AS chunk, (bits >> (CAST(c AS INT) * 16)) & 65535 AS ck
        |           FROM s, range(0, 4) t(c)),
        |sized AS (SELECT *, count(*) OVER (PARTITION BY chunk, ck) AS bucket_size FROM chunks),
        |f AS (SELECT * FROM sized WHERE bucket_size <= 64),
        |pairs AS (SELECT DISTINCT l.vec_id AS id_a, r.vec_id AS id_b
        |          FROM f l JOIN f r USING (chunk, ck) WHERE l.vec_id < r.vec_id),
        |n AS (SELECT vec_id, embedding,
        |        sqrt(${dotSql.format("embedding", "embedding")}) AS nrm
        |      FROM embeddings)
        |SELECT id_a, id_b, bit_count(xor(sa.bits, sb.bits)) AS hamming,
        |  ${dotSql.format("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cos_sim
        |FROM pairs
        |JOIN s sa ON sa.vec_id = id_a
        |JOIN s sb ON sb.vec_id = id_b
        |JOIN n a ON a.vec_id = id_a
        |JOIN n b ON b.vec_id = id_b
        |WHERE bit_count(xor(sa.bits, sb.bits)) <= 24""".stripMargin) { (s, dir) =>
      val p = s"${Staging.sideDir(dir)}/hyperplane_bits"
      Tables.load(s, dir, "embeddings")
        .select(col("vec_id"),
          graft.functions.VectorFns.hyperplane_bits64(col("embedding")).as("bits"))
        .write.mode("overwrite").parquet(p)
      val sigs = s.read.parquet(p)
      val chunks = sigs.select(col("vec_id"),
          explode(expr("transform(sequence(0, 3), " +
            "c -> struct(c AS chunk, shiftright(bits, c * 16) & 65535 AS ck))")).as("cc"))
        .select(col("vec_id"), col("cc.chunk"), col("cc.ck"))
      val sized = chunks.withColumn("bucket_size",
          count(lit(1)).over(Window.partitionBy(col("chunk"), col("ck"))))
        .filter(col("bucket_size") <= 64)
      val a = sized.select(col("chunk"), col("ck"), col("vec_id").as("id_a"))
      val b = sized.select(col("chunk"), col("ck"), col("vec_id").as("id_b"))
      val pairs = a.join(b, Seq("chunk", "ck")).filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b").distinct()
      val e = Tables.load(s, dir, "embeddings")
      pairs
        .join(sigs.select(col("vec_id").as("id_a"), col("bits").as("bits_a")), "id_a")
        .join(sigs.select(col("vec_id").as("id_b"), col("bits").as("bits_b")), "id_b")
        .withColumn("hamming",
          graft.functions.functions.hamming64(col("bits_a"), col("bits_b")))
        .filter(col("hamming") <= 24) // ≈ angle ≤ 67° → cosine ≥ ~0.4
        .join(e.select(col("vec_id").as("id_a"), col("embedding").as("emb_a")), "id_a")
        .join(e.select(col("vec_id").as("id_b"), col("embedding").as("emb_b")), "id_b")
        .withColumn("cos_sim", cosine_sim(col("emb_a"), col("emb_b")))
        .select(col("id_a"), col("id_b"), col("hamming"), col("cos_sim"))
    },

    // ---- PQ-compressed ANN: asymmetric-distance top-3 -----------------
    // graft.ops.Pq: 64-dim floats (256 B) → 16 sub-codes of ≤1 B
    // (16× memory cut — the FAISS-standard M=16 shape). Parameters
    // chosen by measured recall@3 vs exact L2 on the fixtures
    // (BASELINE.md: m=8/k=16 → 0.17, m=16/k=64 → 0.53, m=32/k=64 →
    // 0.87 — isotropic random data is PQ's worst case; clustered real
    // embeddings do far better). Codes and codebooks are materialized;
    // the oracle recomputes every ADC distance from them with the same
    // nested left-to-right fold, so encoding AND scoring are
    // independently verified.
    // Index (codebooks + codes) staged ONCE per (JVM, SF dir) — r12
    // directive: v45 was the last flat-PQ row paying training cost in
    // its timed median. The timed run is the documented scan-all ADC
    // baseline (v50/v46/v51 are the pruned/refined scale paths).
    Query("v45_pq_ann",
      """WITH codes AS (SELECT * FROM read_parquet('__SIDE__/pq_codes/*.parquet')),
        |cb AS (SELECT * FROM read_parquet('__SIDE__/pq_codebooks/*.parquet')),
        |cbl AS (SELECT sub, list(centroid ORDER BY code) AS cws FROM cb GROUP BY sub),
        |allcb AS (SELECT list(cws ORDER BY sub) AS a FROM cbl),
        |q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id % 50 = 0),
        |scored AS (
        |  SELECT q.query_id, c.cand_id,
        |    list_aggregate(list_transform(range(0, 16), mm ->
        |      list_aggregate(list_transform(range(1, 5), i ->
        |        (CAST(q.embedding[mm * 4 + i] AS DOUBLE)
        |          - CAST(allcb.a[mm + 1][c.codes[mm + 1] + 1][i] AS DOUBLE))
        |        * (CAST(q.embedding[mm * 4 + i] AS DOUBLE)
        |          - CAST(allcb.a[mm + 1][c.codes[mm + 1] + 1][i] AS DOUBLE))
        |      ), 'sum')
        |    ), 'sum') AS adc_dist
        |  FROM q, codes c, allcb
        |  WHERE q.query_id <> c.cand_id)
        |SELECT query_id, rk, cand_id, adc_dist FROM (
        |  SELECT query_id, cand_id, adc_dist,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |                       ORDER BY adc_dist, cand_id) AS rk
        |  FROM scored) WHERE rk <= 3""".stripMargin) { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val base = Staging.sideDir(dir)
      Staging.parquetGroupOnce(s"$dir#pq45",
        Seq(s"$base/pq_codebooks", s"$base/pq_codes")) { () =>
        val cbs = graft.ops.Pq.train(e, "vec_id", "embedding", m = 16, k = 64, iters = 2)
        graft.ops.Pq.codebooksDF(s, cbs)
          .write.mode("overwrite").parquet(s"$base/pq_codebooks")
        graft.ops.Pq.encode(e, "vec_id", "embedding", cbs)
          .write.mode("overwrite").parquet(s"$base/pq_codes")
        pq45Cbs.put(dir, cbs)
      }
      graft.ops.Pq.searchTopK(
        e.filter(col("vec_id") % 50 === 0), "vec_id", "embedding",
        s.read.parquet(s"$base/pq_codes"), pq45Cbs(dir), topK = 3)
    },

    // ---- IVF-PQ: coarse cells + residual codes (FAISS shape) ----------
    // The two scale mechanisms composed: candidates shrink k/nprobe×
    // (IVF probe) AND the scanned index is 32× smaller (PQ residual
    // codes). Every artifact (centroids, codes, probes, codebooks) is
    // materialized; the oracle replays probe join + residual ADC +
    // top-k — q, centroid, and codeword are each widened to double
    // before subtracting, so the fold is engine-independent.
    // Index build (centroids, residual codebooks, codes, probe
    // assignments) staged ONCE per (JVM, SF dir) as one consistent
    // artifact group — r12 directive #2: v46 was the last ANN row
    // re-training per bench run; timed medians now measure pure
    // probe-join + ADC search (the production read path — a FAISS
    // IVF-PQ index is built once, served many).
    Query("v46_ivfpq_ann",
      """WITH cents AS (SELECT * FROM read_parquet('__SIDE__/ivfpq_cents/*.parquet')),
        |codes AS (SELECT * FROM read_parquet('__SIDE__/ivfpq_codes/*.parquet')),
        |probes AS (SELECT * FROM read_parquet('__SIDE__/ivfpq_probes/*.parquet')),
        |cb AS (SELECT * FROM read_parquet('__SIDE__/ivfpq_codebooks/*.parquet')),
        |cbl AS (SELECT sub, list(centroid ORDER BY code) AS cws FROM cb GROUP BY sub),
        |allcb AS (SELECT list(cws ORDER BY sub) AS a FROM cbl),
        |q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id % 50 = 0),
        |scored AS (
        |  SELECT p.query_id, p.cell, c.cand_id,
        |    list_aggregate(list_transform(range(0, 16), mm ->
        |      list_aggregate(list_transform(range(1, 5), i ->
        |        (CAST(q.embedding[mm * 4 + i] AS DOUBLE)
        |          - CAST(ct.centroid[mm * 4 + i] AS DOUBLE)
        |          - CAST(allcb.a[mm + 1][c.codes[mm + 1] + 1][i] AS DOUBLE))
        |        * (CAST(q.embedding[mm * 4 + i] AS DOUBLE)
        |          - CAST(ct.centroid[mm * 4 + i] AS DOUBLE)
        |          - CAST(allcb.a[mm + 1][c.codes[mm + 1] + 1][i] AS DOUBLE))
        |      ), 'sum')
        |    ), 'sum') AS adc_dist
        |  FROM probes p
        |  JOIN codes c USING (cell)
        |  JOIN cents ct USING (cell)
        |  JOIN q ON q.query_id = p.query_id, allcb
        |  WHERE p.query_id <> c.cand_id)
        |SELECT query_id, cell, rk, cand_id, adc_dist FROM (
        |  SELECT query_id, cell, cand_id, adc_dist,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |                       ORDER BY adc_dist, cand_id) AS rk
        |  FROM scored) WHERE rk <= 3""".stripMargin) { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val base = Staging.sideDir(dir)
      Staging.parquetGroupOnce(s"$dir#ivfpq46",
        Seq(s"$base/ivfpq_cents", s"$base/ivfpq_codes",
          s"$base/ivfpq_codebooks", s"$base/ivfpq_probes")) { () =>
        val n = e.count().toDouble
        val cellCount = math.max(4, math.ceil(math.sqrt(n)).toInt)
        val idx = graft.ops.IvfPq.build(e, "vec_id", "embedding",
          cells = cellCount, m = 16, k = 64, iters = 2)
        idx.cents.write.mode("overwrite").parquet(s"$base/ivfpq_cents")
        idx.codes.write.mode("overwrite").parquet(s"$base/ivfpq_codes")
        graft.ops.Pq.codebooksDF(s, idx.codebooks)
          .write.mode("overwrite").parquet(s"$base/ivfpq_codebooks")
        // nprobe auto-scales with the cell count (r10 verdict: fixed
        // nprobe=2 probed a shrinking fraction of cells as n grew; the
        // oracle replays the MATERIALIZED probes, so recall tuning
        // never risks the correctness gate).
        graft.ops.Ivf.assign(e.filter(col("vec_id") % 50 === 0),
            "vec_id", "embedding", s.read.parquet(s"$base/ivfpq_cents"),
            nprobe = graft.ops.Ivf.defaultNprobe(cellCount))
          .select(col("vec_id").as("query_id"), col("cell"))
          .write.mode("overwrite").parquet(s"$base/ivfpq_probes")
        ivfpq46Cbs.put(dir, idx.codebooks)
      }
      val cents = s.read.parquet(s"$base/ivfpq_cents")
      val probes = s.read.parquet(s"$base/ivfpq_probes")
        .join(e.select(col("vec_id").as("query_id"),
          col("embedding").cast("array<float>").as("q_emb")), "query_id")
      graft.ops.IvfPq.scoreProbes(probes,
        graft.ops.IvfPq.Index(cents, s.read.parquet(s"$base/ivfpq_codes"),
          ivfpq46Cbs(dir)), topK = 3)
    },

    // ---- PQ + exact re-rank ("re-ranking with source coding") ---------
    // graft.ops.Pq.searchTopKRefined: ADC retrieves a topK·refine=30
    // shortlist from the compressed codes, then exact L2 over the raw
    // embeddings re-ranks ONLY the shortlist (query-scale rows). This
    // is the recall lever for isotropic data — refined recall@k equals
    // ADC recall@(k·refine) (BASELINE.md, sf1: 0.453 plain → 1.000
    // refined) — while the corpus-scale scan still touches codes only.
    // Codes + codebooks are staged independently of v45 (Verify's
    // query order is not a contract), and the oracle replays shortlist
    // AND rerank with the same left-to-right double folds.
    // Index (codebooks + codes) is trained/staged ONCE per (JVM, SF
    // dir) — the v43/h21 index-once/search-many discipline, so bench
    // medians measure the SEARCH path and the one-time training cost
    // is a separate [stage] stderr print. The in-memory codebooks are
    // cached in lockstep with the staged files (repopulated inside the
    // group-stage closure), so a vanished /tmp dir retrains+restages
    // instead of serving stale or mismatched artifacts.
    Query("v50_pq_refine",
      """WITH codes AS (SELECT * FROM read_parquet('__SIDE__/pq50_codes/*.parquet')),
        |cb AS (SELECT * FROM read_parquet('__SIDE__/pq50_codebooks/*.parquet')),
        |cbl AS (SELECT sub, list(centroid ORDER BY code) AS cws FROM cb GROUP BY sub),
        |allcb AS (SELECT list(cws ORDER BY sub) AS a FROM cbl),
        |q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id % 50 = 0),
        |scored AS (
        |  SELECT q.query_id, c.cand_id,
        |    list_aggregate(list_transform(range(0, 16), mm ->
        |      list_aggregate(list_transform(range(1, 5), i ->
        |        (CAST(q.embedding[mm * 4 + i] AS DOUBLE)
        |          - CAST(allcb.a[mm + 1][c.codes[mm + 1] + 1][i] AS DOUBLE))
        |        * (CAST(q.embedding[mm * 4 + i] AS DOUBLE)
        |          - CAST(allcb.a[mm + 1][c.codes[mm + 1] + 1][i] AS DOUBLE))
        |      ), 'sum')
        |    ), 'sum') AS adc_dist
        |  FROM q, codes c, allcb
        |  WHERE q.query_id <> c.cand_id),
        |short AS (SELECT query_id, cand_id FROM (
        |  SELECT query_id, cand_id,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |                       ORDER BY adc_dist, cand_id) AS rka
        |  FROM scored) WHERE rka <= 30),
        |rr AS (
        |  SELECT s.query_id, s.cand_id,
        |    list_aggregate(list_transform(generate_series(1, 64),
        |      i -> (CAST(q.embedding[i] AS DOUBLE) - CAST(ce.embedding[i] AS DOUBLE))
        |         * (CAST(q.embedding[i] AS DOUBLE) - CAST(ce.embedding[i] AS DOUBLE))), 'sum') AS l2_dist
        |  FROM short s
        |  JOIN q ON q.query_id = s.query_id
        |  JOIN embeddings ce ON ce.vec_id = s.cand_id)
        |SELECT query_id, rk, cand_id, l2_dist FROM (
        |  SELECT query_id, cand_id, l2_dist,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |                       ORDER BY l2_dist, cand_id) AS rk
        |  FROM rr) WHERE rk <= 3""".stripMargin) { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val base = Staging.sideDir(dir)
      Staging.parquetGroupOnce(s"$dir#pq50",
        Seq(s"$base/pq50_codebooks", s"$base/pq50_codes")) { () =>
        val cbs = graft.ops.Pq.train(e, "vec_id", "embedding", m = 16, k = 64, iters = 2)
        graft.ops.Pq.codebooksDF(s, cbs)
          .write.mode("overwrite").parquet(s"$base/pq50_codebooks")
        graft.ops.Pq.encode(e, "vec_id", "embedding", cbs)
          .write.mode("overwrite").parquet(s"$base/pq50_codes")
        pq50Cbs.put(dir, cbs)
      }
      graft.ops.Pq.searchTopKRefined(
        e.filter(col("vec_id") % 50 === 0), "vec_id", "embedding",
        s.read.parquet(s"$base/pq50_codes"), e, "vec_id", "embedding",
        pq50Cbs(dir), topK = 3, refine = 10)
    },

    // ---- IVF-PQ + auto-nprobe + exact re-rank (full FAISS shape) ------
    // The three recall/scale mechanisms composed: auto-scaled nprobe
    // (whether the true neighbor's CELL is scanned at all), residual
    // PQ codes (32× smaller scanned index), and the exact rerank of
    // the ADC shortlist (recovers the ordering quantization noise
    // scrambled within scanned cells). All artifacts staged; the
    // oracle replays probe join + residual ADC + shortlist + rerank.
    // Same index-once/search-many staging as v50: the full IVF-PQ build
    // (coarse centroids, residual codebooks, codes, probe assignments)
    // is one consistent artifact GROUP staged per (JVM, SF dir); timed
    // runs after the first measure pure search.
    Query("v51_ivfpq_refine",
      """WITH cents AS (SELECT * FROM read_parquet('__SIDE__/ivfpq51_cents/*.parquet')),
        |codes AS (SELECT * FROM read_parquet('__SIDE__/ivfpq51_codes/*.parquet')),
        |probes AS (SELECT * FROM read_parquet('__SIDE__/ivfpq51_probes/*.parquet')),
        |cb AS (SELECT * FROM read_parquet('__SIDE__/ivfpq51_codebooks/*.parquet')),
        |cbl AS (SELECT sub, list(centroid ORDER BY code) AS cws FROM cb GROUP BY sub),
        |allcb AS (SELECT list(cws ORDER BY sub) AS a FROM cbl),
        |q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id % 50 = 0),
        |scored AS (
        |  SELECT p.query_id, c.cand_id,
        |    list_aggregate(list_transform(range(0, 16), mm ->
        |      list_aggregate(list_transform(range(1, 5), i ->
        |        (CAST(q.embedding[mm * 4 + i] AS DOUBLE)
        |          - CAST(ct.centroid[mm * 4 + i] AS DOUBLE)
        |          - CAST(allcb.a[mm + 1][c.codes[mm + 1] + 1][i] AS DOUBLE))
        |        * (CAST(q.embedding[mm * 4 + i] AS DOUBLE)
        |          - CAST(ct.centroid[mm * 4 + i] AS DOUBLE)
        |          - CAST(allcb.a[mm + 1][c.codes[mm + 1] + 1][i] AS DOUBLE))
        |      ), 'sum')
        |    ), 'sum') AS adc_dist
        |  FROM probes p
        |  JOIN codes c USING (cell)
        |  JOIN cents ct USING (cell)
        |  JOIN q ON q.query_id = p.query_id, allcb
        |  WHERE p.query_id <> c.cand_id),
        |short AS (SELECT query_id, cand_id FROM (
        |  SELECT query_id, cand_id,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |                       ORDER BY adc_dist, cand_id) AS rka
        |  FROM scored) WHERE rka <= 30),
        |rr AS (
        |  SELECT s.query_id, s.cand_id,
        |    list_aggregate(list_transform(generate_series(1, 64),
        |      i -> (CAST(q.embedding[i] AS DOUBLE) - CAST(ce.embedding[i] AS DOUBLE))
        |         * (CAST(q.embedding[i] AS DOUBLE) - CAST(ce.embedding[i] AS DOUBLE))), 'sum') AS l2_dist
        |  FROM short s
        |  JOIN q ON q.query_id = s.query_id
        |  JOIN embeddings ce ON ce.vec_id = s.cand_id)
        |SELECT query_id, rk, cand_id, l2_dist FROM (
        |  SELECT query_id, cand_id, l2_dist,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |                       ORDER BY l2_dist, cand_id) AS rk
        |  FROM rr) WHERE rk <= 3""".stripMargin) { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val base = Staging.sideDir(dir)
      Staging.parquetGroupOnce(s"$dir#ivfpq51",
        Seq(s"$base/ivfpq51_cents", s"$base/ivfpq51_codes",
          s"$base/ivfpq51_codebooks", s"$base/ivfpq51_probes")) { () =>
        val n = e.count().toDouble
        val cellCount = math.max(4, math.ceil(math.sqrt(n)).toInt)
        val idx = graft.ops.IvfPq.build(e, "vec_id", "embedding",
          cells = cellCount, m = 16, k = 64, iters = 2)
        idx.cents.write.mode("overwrite").parquet(s"$base/ivfpq51_cents")
        idx.codes.write.mode("overwrite").parquet(s"$base/ivfpq51_codes")
        graft.ops.Pq.codebooksDF(s, idx.codebooks)
          .write.mode("overwrite").parquet(s"$base/ivfpq51_codebooks")
        graft.ops.Ivf.assign(e.filter(col("vec_id") % 50 === 0),
            "vec_id", "embedding", s.read.parquet(s"$base/ivfpq51_cents"),
            nprobe = graft.ops.Ivf.defaultNprobe(cellCount))
          .select(col("vec_id").as("query_id"), col("cell"))
          .write.mode("overwrite").parquet(s"$base/ivfpq51_probes")
        ivfpq51Cbs.put(dir, idx.codebooks)
      }
      val cents = s.read.parquet(s"$base/ivfpq51_cents")
      val probes = s.read.parquet(s"$base/ivfpq51_probes")
        .join(e.select(col("vec_id").as("query_id"),
          col("embedding").cast("array<float>").as("q_emb")), "query_id")
      val shortlist = graft.ops.IvfPq.scoreProbes(probes,
        graft.ops.IvfPq.Index(cents, s.read.parquet(s"$base/ivfpq51_codes"),
          ivfpq51Cbs(dir)), topK = 30)
        .select(col("query_id"), col("cand_id"))
      val q = e.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("query_id"),
          col("embedding").cast("array<float>").as("q_emb"))
      val c = e.select(col("vec_id").as("cand_id"),
        col("embedding").cast("array<float>").as("c_emb"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("l2_dist"), col("cand_id"))
      shortlist.join(c, "cand_id").join(broadcast(q), "query_id")
        .withColumn("l2_dist", graft.ops.Pq.l2sq(col("q_emb"), col("c_emb")))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("query_id"), col("rk"), col("cand_id"), col("l2_dist"))
    },

    // ---- Filtered ANN: metadata predicate + tenant isolation ----------
    // The FAISS IDSelector / vector-store "namespace" analog — every
    // production retrieval system needs "top-k among vectors matching
    // a filter". Two mechanisms composed, both PRE-join (never
    // post-filter-and-hope):
    //  - candPred: a metadata predicate (here vec_id % 2 = 0, the
    //    "active subset" shape) filters candidates before the probe
    //    join, so selectivity SHRINKS the join volume;
    //  - matchCols: the query's own label joins as part of the probe
    //    key (cell, label) — tenant isolation, which at 100 TB
    //    tightens the shuffle key and strictly reduces per-task
    //    candidate volume.
    // The labeled assignment is staged (index once / search many) and
    // the oracle replays the filtered probe join + top-k over the
    // identical rows.
    Query("v52_filtered_ann",
      s"""WITH a AS (SELECT * FROM read_parquet('__SIDE__/ivf_assign52/*.parquet')),
        |n AS (SELECT vec_id, embedding,
        |        sqrt(${dotSql.format("embedding", "embedding")}) AS nrm
        |      FROM a WHERE cell_rank = 1),
        |cands AS (SELECT cell, label, vec_id AS cand_id FROM a
        |          WHERE cell_rank = 1 AND vec_id % 2 = 0),
        |qs AS (SELECT cell, label, vec_id AS query_id FROM a WHERE vec_id % 50 = 0),
        |scored AS (
        |  SELECT query_id, qs.label AS label, qs.cell AS cell, cand_id,
        |    ${dotSql.format("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cos_sim
        |  FROM qs JOIN cands ON qs.cell = cands.cell AND qs.label = cands.label
        |                    AND query_id <> cand_id
        |  JOIN n q ON q.vec_id = query_id
        |  JOIN n c ON c.vec_id = cand_id)
        |SELECT query_id, label, cell, rk, cand_id, cos_sim FROM (
        |  SELECT query_id, label, cell, cand_id, cos_sim,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |                       ORDER BY cos_sim DESC, cand_id) AS rk
        |  FROM scored) WHERE rk <= 3""".stripMargin) { (s, dir) =>
      val base = Staging.sideDir(dir)
      val p = Staging.parquetOnce(s"$dir#ivf52", s"$base/ivf_assign52") { p0 =>
        val e = Tables.load(s, dir, "embeddings")
        val n = e.count().toDouble
        val cents = graft.ops.Ivf.centroids(e, "vec_id", "embedding",
          k = math.max(4, math.ceil(math.sqrt(n)).toInt), iters = 1)
        graft.ops.Ivf.assign(e, "vec_id", "embedding", cents, nprobe = 2)
          .select(col("vec_id"), col("label"), col("embedding"),
            col("cell"), col("cell_rank"))
          .write.mode("overwrite").parquet(p0)
      }
      graft.ops.Ivf.searchFromAssigned(s.read.parquet(p), "vec_id", "embedding",
        queryPred = col("vec_id") % 50 === 0, topK = 3,
        candPred = col("vec_id") % 2 === 0, matchCols = Seq("label"))
    },

    // ---- Scalar-quantizer ANN: int8 codes + asymmetric search ---------
    // The FAISS IndexScalarQuantizer family (QT_8bit): per-DIMENSION
    // affine int8 quantization (v49's codec) stored as a 64-byte code
    // array (4× memory cut vs float32), searched ASYMMETRICALLY — the
    // float query scores against map-side-dequantized candidates — and
    // sharpened by the v50 exact re-rank over the query-scale
    // shortlist. Codes + per-dim ranges are one consistent staged
    // artifact group; the oracle replays dequantize + the same
    // left-to-right double cosine fold + both rank passes.
    Query("v53_sq_ann",
      s"""WITH codes AS (SELECT * FROM read_parquet('__SIDE__/sq53_codes/*.parquet')),
        |rg AS (SELECT list(lo ORDER BY dim) AS los, list(scale ORDER BY dim) AS scs
        |       FROM read_parquet('__SIDE__/sq53_ranges/*.parquet')),
        |deq AS (SELECT vec_id AS cand_id,
        |          list_transform(generate_series(1, 64), i ->
        |            CAST(CAST((codes[i] + 128) * scs[i] + los[i] AS REAL) AS DOUBLE)) AS d
        |        FROM codes, rg),
        |dn AS (SELECT cand_id, d,
        |         sqrt(list_aggregate(list_transform(generate_series(1, 64),
        |           i -> d[i] * d[i]), 'sum')) AS dnrm FROM deq),
        |qn AS (SELECT vec_id AS query_id, embedding,
        |         sqrt(${dotSql.format("embedding", "embedding")}) AS qnrm
        |       FROM embeddings WHERE vec_id % 50 = 0),
        |scored AS (
        |  SELECT query_id, cand_id,
        |    list_aggregate(list_transform(generate_series(1, 64),
        |      i -> CAST(qn.embedding[i] AS DOUBLE) * dn.d[i]), 'sum')
        |      / (qn.qnrm * dn.dnrm) AS sq_sim
        |  FROM qn, dn WHERE query_id <> cand_id),
        |short AS (SELECT query_id, cand_id FROM (
        |    SELECT query_id, cand_id,
        |      ROW_NUMBER() OVER (PARTITION BY query_id
        |                         ORDER BY sq_sim DESC, cand_id) AS srk
        |    FROM scored) WHERE srk <= 30),
        |n AS (SELECT vec_id, embedding,
        |        sqrt(${dotSql.format("embedding", "embedding")}) AS nrm
        |      FROM embeddings)
        |SELECT query_id, rk, cand_id, cos_sim FROM (
        |  SELECT query_id, cand_id,
        |    ${dotSql.format("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cos_sim,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |                       ORDER BY ${dotSql.format("q.embedding", "c.embedding")} / (q.nrm * c.nrm) DESC, cand_id) AS rk
        |  FROM short
        |  JOIN n q ON q.vec_id = query_id
        |  JOIN n c ON c.vec_id = cand_id) WHERE rk <= 3""".stripMargin) { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val base = Staging.sideDir(dir)
      Staging.parquetGroupOnce(s"$dir#sq53",
        Seq(s"$base/sq53_ranges", s"$base/sq53_codes")) { () =>
        val elems = e.select(col("vec_id"),
            posexplode(col("embedding")).as(Seq("dim", "v")))
          .select(col("vec_id"), col("dim"), col("v").cast("double").as("v"))
        val ranges = elems.groupBy(col("dim"))
          .agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
          .withColumn("scale", (col("hi") - col("lo")) / lit(255.0))
        ranges.write.mode("overwrite").parquet(s"$base/sq53_ranges")
        elems.join(broadcast(s.read.parquet(s"$base/sq53_ranges")), "dim")
          .withColumn("code",
            when(col("scale") === 0, lit(0)).otherwise(
              round((col("v") - col("lo")) / col("scale"), 0).cast("int") - 128))
          .groupBy(col("vec_id"))
          .agg(transform(array_sort(collect_list(struct(col("dim"), col("code")))),
            x => x.getField("code")).as("codes"))
          .write.mode("overwrite").parquet(s"$base/sq53_codes")
      }
      // per-dim lo/scale as broadcast-literal arrays (128 doubles of
      // metadata — the SQ codebook IS this affine table)
      val rg = s.read.parquet(s"$base/sq53_ranges")
        .select(col("dim"), col("lo"), col("scale")).collect().sortBy(_.getInt(0))
      val loArr = array(rg.map(r => lit(r.getDouble(1))): _*)
      val scArr = array(rg.map(r => lit(r.getDouble(2))): _*)
      // asymmetric distance: dequantize the candidate code map-side
      // (float-rounded like a real SQ store), cosine vs the float query
      // r21: per-side norms hoisted out of the |Q|×|C| ADC scan — the
      // dequantized candidate's norm is computed once per candidate
      // row, the query's once before the broadcast (v41 note)
      val cands = s.read.parquet(s"$base/sq53_codes")
        .select(col("vec_id").as("cand_id"),
          zip_with(col("codes"),
            sequence(lit(0), lit(rg.length - 1)),
            (c, i) => (((c + lit(128)).cast("double") * element_at(scArr, i + 1))
              + element_at(loArr, i + 1)).cast("float")).as("c_deq"))
        .withColumn("c_nrm", graft.functions.functions.l2norm(col("c_deq")))
      val q = e.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("query_id"),
          col("embedding").cast("array<float>").as("q_emb"),
          graft.functions.functions.l2norm(col("embedding")).as("q_nrm"))
      val wShort = Window.partitionBy(col("query_id"))
        .orderBy(col("sq_sim").desc, col("cand_id"))
      val shortlist = cands.join(broadcast(q), col("query_id") =!= col("cand_id"))
        .withColumn("sq_sim", graft.functions.functions.cosine_from_parts(
          graft.functions.functions.dot_product(col("q_emb"), col("c_deq")),
          col("q_nrm"), col("c_nrm")))
        .withColumn("srk", row_number().over(wShort))
        .filter(col("srk") <= 30)
        .select(col("query_id"), col("cand_id"))
      // exact re-rank of the query-scale shortlist (v50 discipline)
      val c = e.select(col("vec_id").as("cand_id"),
        col("embedding").cast("array<float>").as("c_emb"))
      val wTop = Window.partitionBy(col("query_id"))
        .orderBy(col("cos_sim").desc, col("cand_id"))
      shortlist.join(c, "cand_id").join(broadcast(q), "query_id")
        .withColumn("cos_sim", cosine_sim(col("q_emb"), col("c_emb")))
        .withColumn("rk", row_number().over(wTop))
        .filter(col("rk") <= 3)
        .select(col("query_id"), col("rk"), col("cand_id"), col("cos_sim"))
    },

    // ---- IVF-SQ: coarse cells over int8 scalar quantization -----------
    // FAISS's IndexIVFScalarQuantizer (QT_8bit) composition, completing
    // the quantizer × pruning matrix (IVF×PQ = v51, flat SQ = v53,
    // IVF×SQ = here): coarse cells prune the scored volume to the
    // probed inverted lists, the per-dimension affine int8 codec (v53's
    // arithmetic, verbatim) cuts candidate memory 4×, the asymmetric
    // float-query-vs-dequantized-candidate cosine orders a shortlist,
    // and the v50 exact re-rank sharpens it. All four artifacts
    // (centroids, ranges, cell-tagged codes, probe assignments) are one
    // consistent staged group — timed runs measure pure search. The
    // oracle replays dequantize + the cell-pruned probe join + both
    // rank passes from the same staged parquet.
    // Scale: the probe join shuffles on cell (bounded keys), candidates
    // dequantize map-side, shortlist is query-bounded (30/query), and
    // the re-rank joins a query-scale shortlist against the store —
    // the same 100 TB shape as v51.
    Query("v54_ivfsq_refine",
      s"""WITH codes AS (SELECT * FROM read_parquet('__SIDE__/ivfsq54_codes/*.parquet')),
        |rg AS (SELECT list(lo ORDER BY dim) AS los, list(scale ORDER BY dim) AS scs
        |       FROM read_parquet('__SIDE__/ivfsq54_ranges/*.parquet')),
        |probes AS (SELECT * FROM read_parquet('__SIDE__/ivfsq54_probes/*.parquet')),
        |deq AS (SELECT vec_id AS cand_id, cell,
        |          list_transform(generate_series(1, 64), i ->
        |            CAST(CAST((codes[i] + 128) * scs[i] + los[i] AS REAL) AS DOUBLE)) AS d
        |        FROM codes, rg),
        |dn AS (SELECT cand_id, cell, d,
        |         sqrt(list_aggregate(list_transform(generate_series(1, 64),
        |           i -> d[i] * d[i]), 'sum')) AS dnrm FROM deq),
        |qn AS (SELECT vec_id AS query_id, embedding,
        |         sqrt(${dotSql.format("embedding", "embedding")}) AS qnrm
        |       FROM embeddings WHERE vec_id % 50 = 0),
        |scored AS (
        |  SELECT p.query_id, dn.cand_id,
        |    list_aggregate(list_transform(generate_series(1, 64),
        |      i -> CAST(qn.embedding[i] AS DOUBLE) * dn.d[i]), 'sum')
        |      / (qn.qnrm * dn.dnrm) AS sq_sim
        |  FROM probes p
        |  JOIN dn USING (cell)
        |  JOIN qn ON qn.query_id = p.query_id
        |  WHERE p.query_id <> dn.cand_id),
        |short AS (SELECT query_id, cand_id FROM (
        |    SELECT query_id, cand_id,
        |      ROW_NUMBER() OVER (PARTITION BY query_id
        |                         ORDER BY sq_sim DESC, cand_id) AS srk
        |    FROM scored) WHERE srk <= 30),
        |n AS (SELECT vec_id, embedding,
        |        sqrt(${dotSql.format("embedding", "embedding")}) AS nrm
        |      FROM embeddings)
        |SELECT query_id, rk, cand_id, cos_sim FROM (
        |  SELECT query_id, cand_id,
        |    ${dotSql.format("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cos_sim,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |                       ORDER BY ${dotSql.format("q.embedding", "c.embedding")} / (q.nrm * c.nrm) DESC, cand_id) AS rk
        |  FROM short
        |  JOIN n q ON q.vec_id = query_id
        |  JOIN n c ON c.vec_id = cand_id) WHERE rk <= 3""".stripMargin) { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val base = Staging.sideDir(dir)
      Staging.parquetGroupOnce(s"$dir#ivfsq54",
        Seq(s"$base/ivfsq54_cents", s"$base/ivfsq54_ranges",
          s"$base/ivfsq54_codes", s"$base/ivfsq54_probes")) { () =>
        val n = e.count().toDouble
        val cellCount = math.max(4, math.ceil(math.sqrt(n)).toInt)
        graft.ops.Ivf.centroids(e, "vec_id", "embedding",
            k = cellCount, iters = 2)
          .write.mode("overwrite").parquet(s"$base/ivfsq54_cents")
        val centsDf = s.read.parquet(s"$base/ivfsq54_cents")
        val elems = e.select(col("vec_id"),
            posexplode(col("embedding")).as(Seq("dim", "v")))
          .select(col("vec_id"), col("dim"), col("v").cast("double").as("v"))
        elems.groupBy(col("dim"))
          .agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
          .withColumn("scale", (col("hi") - col("lo")) / lit(255.0))
          .write.mode("overwrite").parquet(s"$base/ivfsq54_ranges")
        val owned = graft.ops.Ivf.assign(e, "vec_id", "embedding",
            centsDf, nprobe = 1)
          .select(col("vec_id"), col("cell"))
        elems.join(broadcast(s.read.parquet(s"$base/ivfsq54_ranges")), "dim")
          .withColumn("code",
            when(col("scale") === 0, lit(0)).otherwise(
              round((col("v") - col("lo")) / col("scale"), 0).cast("int") - 128))
          .groupBy(col("vec_id"))
          .agg(transform(array_sort(collect_list(struct(col("dim"), col("code")))),
            x => x.getField("code")).as("codes"))
          .join(owned, "vec_id")
          .write.mode("overwrite").parquet(s"$base/ivfsq54_codes")
        graft.ops.Ivf.assign(e.filter(col("vec_id") % 50 === 0),
            "vec_id", "embedding", centsDf,
            nprobe = graft.ops.Ivf.defaultNprobe(cellCount))
          .select(col("vec_id").as("query_id"), col("cell"))
          .write.mode("overwrite").parquet(s"$base/ivfsq54_probes")
      }
      val rg = s.read.parquet(s"$base/ivfsq54_ranges")
        .select(col("dim"), col("lo"), col("scale")).collect().sortBy(_.getInt(0))
      val loArr = array(rg.map(r => lit(r.getDouble(1))): _*)
      val scArr = array(rg.map(r => lit(r.getDouble(2))): _*)
      val cands = s.read.parquet(s"$base/ivfsq54_codes")
        .select(col("vec_id").as("cand_id"), col("cell"),
          zip_with(col("codes"),
            sequence(lit(0), lit(rg.length - 1)),
            (c, i) => (((c + lit(128)).cast("double") * element_at(scArr, i + 1))
              + element_at(loArr, i + 1)).cast("float")).as("c_deq"))
      val q = e.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("query_id"),
          col("embedding").cast("array<float>").as("q_emb"))
      val probes = s.read.parquet(s"$base/ivfsq54_probes")
        .join(broadcast(q), "query_id")
      val wShort = Window.partitionBy(col("query_id"))
        .orderBy(col("sq_sim").desc, col("cand_id"))
      val shortlist = probes.join(cands, "cell")
        .filter(col("query_id") =!= col("cand_id"))
        .withColumn("sq_sim", cosine_sim(col("q_emb"), col("c_deq")))
        .withColumn("srk", row_number().over(wShort))
        .filter(col("srk") <= 30)
        .select(col("query_id"), col("cand_id"))
      val c = e.select(col("vec_id").as("cand_id"),
        col("embedding").cast("array<float>").as("c_emb"))
      val wTop = Window.partitionBy(col("query_id"))
        .orderBy(col("cos_sim").desc, col("cand_id"))
      shortlist.join(c, "cand_id").join(broadcast(q), "query_id")
        .withColumn("cos_sim", cosine_sim(col("q_emb"), col("c_emb")))
        .withColumn("rk", row_number().over(wTop))
        .filter(col("rk") <= 3)
        .select(col("query_id"), col("rk"), col("cand_id"), col("cos_sim"))
    },

    // ---- K-means clustering (semantic grouping) -----------------------
    // The clustering use of the IVF machinery: spherical k-means (k=8,
    // 2 Lloyd passes — graft.ops.Ivf.centroids, fit on a bounded
    // hash-ordered sample like a FAISS coarse quantizer)
    // with the final per-vector assignment, cosine to the owning
    // centroid, and cluster sizes. Unlike v43 (whose oracle replays
    // search over the materialized ASSIGNMENT), this oracle recomputes
    // the argmax itself from the materialized centroids — cosine folds
    // are bit-identical left-to-right double sums in both engines and
    // ties break (cos desc, cell asc) exactly like NearestCells — so
    // the map-side assignment expression is independently verified.
    // Scale: assignment is a zero-shuffle codegen'd projection; the
    // only Exchange is the cluster-size count keyed on cell.
    Query("v47_kmeans_clusters",
      s"""WITH cents AS (
        |  SELECT cell, centroid,
        |    sqrt(${dotSql.format("centroid", "centroid")}) AS cnrm
        |  FROM read_parquet('__SIDE__/kmeans_cents/*.parquet')),
        |n AS (SELECT vec_id, embedding,
        |        sqrt(${dotSql.format("embedding", "embedding")}) AS nrm
        |      FROM embeddings),
        |scored AS (
        |  SELECT vec_id, cell,
        |    ${dotSql.format("n.embedding", "cents.centroid")} / (n.nrm * cents.cnrm)
        |      AS cos_to_centroid
        |  FROM n CROSS JOIN cents),
        |best AS (
        |  SELECT vec_id, cell, cos_to_centroid FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
        |      ORDER BY cos_to_centroid DESC, cell) AS rk
        |    FROM scored) WHERE rk = 1)
        |SELECT vec_id, cell,
        |  count(*) OVER (PARTITION BY cell) AS cluster_size,
        |  cos_to_centroid
        |FROM best""".stripMargin) { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val base = Staging.sideDir(dir)
      graft.ops.Ivf.centroids(e, "vec_id", "embedding", k = 8, iters = 2)
        .write.mode("overwrite").parquet(s"$base/kmeans_cents")
      val cents = s.read.parquet(s"$base/kmeans_cents")
      val assigned = graft.ops.Ivf
        .assign(e, "vec_id", "embedding", cents, nprobe = 1)
        .filter(col("cell_rank") === 1)
      assigned
        .join(cents, Seq("cell")) // 8 rows — broadcast
        .withColumn("cos_to_centroid",
          cosine_sim(col("embedding"), col("centroid").cast("array<float>")))
        .withColumn("cluster_size",
          count(lit(1)).over(Window.partitionBy(col("cell"))))
        .select(col("vec_id"), col("cell"), col("cluster_size"),
          col("cos_to_centroid"))
    },

    // ---- SemDeDup: semantic dedup via kmeans + in-cluster cosine ------
    // (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    // web-scale through semantic deduplication" — public paper): cluster
    // embeddings with kmeans, then inside each cluster mark any vector
    // whose cosine similarity to a LOWER-id cluster-mate exceeds eps as
    // a semantic duplicate; the lowest id of each close group survives
    // (the deterministic keep-first rule n51's LSH dedup uses, replayable
    // in SQL — the paper's keep-farthest-from-centroid variant differs
    // only in the ORDER BY). Scale: the pair join is CELL-blocked, never
    // all-pairs; in production k grows with N to bound per-cell size
    // (the paper uses k=110k for 5B docs) and the per-cell join is the
    // paper's own O(n_cell²) step. Assignment is the map-side codegen'd
    // nearest_cells expression — zero shuffle before the cell-keyed join.
    Query("v48_semdedup",
      s"""WITH cents AS (
        |  SELECT cell, centroid,
        |    sqrt(${dotSql.format("centroid", "centroid")}) AS cnrm
        |  FROM read_parquet('__SIDE__/semdedup_cents/*.parquet')),
        |n AS (SELECT vec_id, embedding,
        |        sqrt(${dotSql.format("embedding", "embedding")}) AS nrm
        |      FROM embeddings),
        |scored AS (
        |  SELECT vec_id, cell,
        |    ${dotSql.format("n.embedding", "cents.centroid")} / (n.nrm * cents.cnrm)
        |      AS cos_to_centroid
        |  FROM n CROSS JOIN cents),
        |asg AS (
        |  SELECT s.vec_id, s.cell, n.embedding, n.nrm FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
        |      ORDER BY cos_to_centroid DESC, cell) AS rk
        |    FROM scored) s JOIN n ON s.vec_id = n.vec_id WHERE s.rk = 1),
        |dups AS (
        |  SELECT b.cell, b.vec_id, count(*) AS n_close
        |  FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
        |  WHERE ${dotSql.format("a.embedding", "b.embedding")} / (a.nrm * b.nrm) >= 0.35
        |  GROUP BY b.cell, b.vec_id)
        |SELECT asg.vec_id, asg.cell,
        |  coalesce(dups.n_close, 0) AS n_close,
        |  (dups.n_close IS NULL) AS kept
        |FROM asg LEFT JOIN dups
        |  ON asg.cell = dups.cell AND asg.vec_id = dups.vec_id""".stripMargin) { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val base = Staging.sideDir(dir)
      graft.ops.Ivf.centroids(e, "vec_id", "embedding", k = 8, iters = 2)
        .write.mode("overwrite").parquet(s"$base/semdedup_cents")
      val cents = s.read.parquet(s"$base/semdedup_cents")
      // Stage the assignment once (v43's index-once shape): without it
      // the self-join's branches each recompute the map-side
      // nearest_cells projection over the full corpus — 3 assignment
      // passes instead of 1 at 100 TB.
      graft.ops.Ivf
        .assign(e, "vec_id", "embedding", cents, nprobe = 1)
        .filter(col("cell_rank") === 1)
        .select(col("cell"), col("vec_id"), col("embedding"))
        .write.mode("overwrite").parquet(s"$base/semdedup_assign")
      val assigned = s.read.parquet(s"$base/semdedup_assign")
      // r21: per-side norms hoisted out of the in-cell pair scan
      // (v41 note) — computed once per row on each branch of the join
      val a = assigned.select(col("cell"), col("vec_id").as("id_a"),
        col("embedding").as("emb_a"),
        graft.functions.functions.l2norm(col("embedding")).as("nrm_a"))
      val b = assigned.select(col("cell"), col("vec_id").as("id_b"),
        col("embedding").as("emb_b"),
        graft.functions.functions.l2norm(col("embedding")).as("nrm_b"))
      val close = a.join(b, Seq("cell")).where(col("id_a") < col("id_b"))
        .withColumn("cos_sim", graft.functions.functions.cosine_from_parts(
          graft.functions.functions.dot_product(col("emb_a"), col("emb_b")),
          col("nrm_a"), col("nrm_b")))
        .filter(col("cos_sim") >= 0.35)
      val dups = close.groupBy(col("cell"), col("id_b").as("vec_id"))
        .agg(count(lit(1)).as("n_close"))
      assigned.join(dups, Seq("cell", "vec_id"), "left")
        .select(col("vec_id"), col("cell"),
          coalesce(col("n_close"), lit(0L)).as("n_close"),
          col("n_close").isNull.as("kept"))
    },

    // ---- Brute-force ANN top-3 per query vector -----------------------
    Query("v42_ann_topk",
      s"""WITH n AS (
        |  SELECT vec_id, embedding,
        |    sqrt(${dotSql.format("embedding", "embedding")}) AS nrm
        |  FROM embeddings),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        |    ${dotSql.format("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cos_sim
        |  FROM n q JOIN n c ON q.vec_id % 50 = 0 AND q.vec_id <> c.vec_id)
        |SELECT query_id, rk, cand_id, cos_sim FROM (
        |  SELECT query_id, cand_id, cos_sim,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |                       ORDER BY cos_sim DESC, cand_id) AS rk
        |  FROM scored) WHERE rk <= 3""".stripMargin) { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      // r21: per-side norms hoisted out of the |Q|×|C| scan (v41 note)
      val q = e.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
          graft.functions.functions.l2norm(col("embedding")).as("q_nrm"))
      val c = e.select(col("vec_id").as("cand_id"), col("embedding").as("c_emb"),
        graft.functions.functions.l2norm(col("embedding")).as("c_nrm"))
      val scored = q.join(c, col("query_id") =!= col("cand_id"))
        .withColumn("cos_sim", graft.functions.functions.cosine_from_parts(
          graft.functions.functions.dot_product(col("q_emb"), col("c_emb")),
          col("q_nrm"), col("c_nrm")))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos_sim").desc, col("cand_id"))
      scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("query_id"), col("rk"), col("cand_id"), col("cos_sim"))
    },

    // ---- Int8 scalar quantization of the embedding column -------------
    // The store-8×-smaller step every vector index applies before
    // PQ/IVF (and what an embedding lakehouse ships to serving). Per
    // DIMENSION min/max over the corpus (a 64-row aggregate), then a
    // map-side affine quantize + dequantize-error per element. Scale
    // shape: one bounded agg (64 rows out however big the corpus is)
    // broadcast back; the element stream never shuffles except for the
    // per-vector regroup on vec_id. Identical double arithmetic on
    // both engines: (v−lo), (hi−lo)/255, round — round-half-up equals
    // round-half-away here because the operand is non-negative.
    Query("v49_int8_quantization",
      """WITH el AS (
        |  SELECT vec_id, i AS dim, CAST(embedding[i + 1] AS DOUBLE) AS v
        |  FROM embeddings, range(0, 64) t(i)),
        |rg AS (SELECT dim, min(v) AS lo, max(v) AS hi FROM el GROUP BY dim),
        |q AS (SELECT vec_id, v, lo, hi, (hi - lo) / 255.0 AS scale
        |      FROM el JOIN rg USING (dim)),
        |c AS (SELECT vec_id, v, scale, lo,
        |        CASE WHEN scale = 0 THEN 0
        |             ELSE CAST(round((v - lo) / scale) AS INT) - 128 END AS code FROM q),
        |d AS (SELECT vec_id, code,
        |        CASE WHEN scale = 0 THEN 0
        |             ELSE abs(v - (CAST(code + 128 AS DOUBLE) * scale + lo)) END AS err FROM c)
        |SELECT vec_id, count(*) AS n_dims, CAST(sum(code) AS BIGINT) AS sum_code,
        |  avg(err) AS mean_abs_err, max(err) AS max_abs_err
        |FROM d GROUP BY vec_id""".stripMargin) { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val elems = e.select(col("vec_id"),
          posexplode(col("embedding")).as(Seq("dim", "v")))
        .select(col("vec_id"), col("dim"), col("v").cast("double").as("v"))
      val ranges = elems.groupBy(col("dim"))
        .agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
      elems.join(broadcast(ranges), "dim")
        .withColumn("scale", (col("hi") - col("lo")) / lit(255.0))
        // degenerate (constant) dimension: scale=0 would make 0/0=NaN,
        // which Spark casts to int 0 but DuckDB errors on — pin code 0
        // / err 0 explicitly on both sides
        .withColumn("code",
          when(col("scale") === 0, lit(0)).otherwise(
            round((col("v") - col("lo")) / col("scale"), 0).cast("int") - 128))
        .withColumn("deq",
          (col("code") + 128).cast("double") * col("scale") + col("lo"))
        .withColumn("err",
          when(col("scale") === 0, lit(0.0))
            .otherwise(abs(col("v") - col("deq"))))
        .groupBy(col("vec_id"))
        .agg(count(lit(1)).as("n_dims"),
          sum(col("code").cast("long")).as("sum_code"),
          avg(col("err")).as("mean_abs_err"),
          max(col("err")).as("max_abs_err"))
    }
  )

  private val dotSql =
    "list_aggregate(list_transform(generate_series(1, 64), " +
      "i -> CAST(%s[i] AS DOUBLE) * CAST(%s[i] AS DOUBLE)), 'sum')"
}
