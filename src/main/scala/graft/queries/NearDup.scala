package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.functions.{minhash, simhash, hamming64, sig_agree, token_hashes}

/** Near-duplicate detection at scale: MinHash+LSH and SimHash banding.
  *
  * Scale design (the reason these exist next to the exact-quadratic
  * t36): signatures are constant-size per doc and computed map-side;
  * docs only meet through LSH bucket keys. Two hard rules keep the
  * plan linear at 100 TB:
  *
  *  1. Nothing wide flows through the bucket join — band rows are
  *     (band, bucket, doc_id) only; signatures never ride along a
  *     potentially-quadratic edge.
  *  2. Pair enumeration inside a bucket is inherently |bucket|²; any
  *     degenerate bucket (boilerplate text, empty docs) would blow up
  *     the stage, so the pair operator drops buckets above
  *     `maxBucketSize` (standard LSH-dedup practice). The cluster
  *     operator needs no cap: it only takes min/count per bucket.
  *
  * Oracle strategy (round 3): DuckDB cannot compute the custom
  * minhash/simhash Expressions, but everything DOWNSTREAM of the
  * signatures — banding, bucket capping, pair enumeration, signature
  * agreement (est-jaccard), hamming distance — is plain SQL. Each
  * query therefore materializes its Spark-computed signature table to
  * a deterministic parquet side-path and continues from the read-back;
  * the oracle runs the same banding/pair logic in DuckDB over that
  * parquet. (Materializing signatures is also what a production 100 TB
  * dedup does: compute once, reuse across the cluster and pair
  * stages.)
  *
  * n50 goes one level deeper (round 4): it materializes the per-token
  * BASE hashes and the oracle recomputes the full k-permutation
  * signature in DuckDB — wraparound 64-bit affine arithmetic via a
  * 32-bit-split HUGEINT multiply, unsigned min per permutation — so
  * the minhash computation itself is verified, not just the banding
  * downstream of it.
  */
object NearDup extends QueryModule {

  val K = 128       // minhash permutations
  val BANDS = 16    // LSH bands → 8 rows per band
  val ROWS = K / BANDS
  val MaxBucketSize = 64
  // unrolled label-propagation rounds in the n54 oracle (round
  // OracleLpRounds is the convergence-guard round, so the oracle
  // tolerates components up to OracleLpRounds-1 bucket-hops deep —
  // comfortably above any LSH near-dup cluster's diameter, and a
  // divergence surfaces as poison rows, never as a silent pass)
  val OracleLpRounds = 12

  private def tokens = array_distinct(split(col("text"), " "))

  /** Signature/band side tables are staged ONCE per (JVM, SF dir) —
    * the TpcH ps / ScaleOps bucketed-layout amortization shape. Five
    * queries (n50–n54) each need them; compute-once/reuse is also what
    * a production 100 TB dedup does (signatures written once, read by
    * every downstream cluster/pair/component stage). Staged via
    * [[Staging.parquetOnce]] so a vanished /tmp dir re-stages instead
    * of poisoning every later reader (r11's one red row).
    */

  /** Write-then-read-back of the minhash signature table. */
  private def sigsTable(s: SparkSession, dir: String): DataFrame = {
    val p = Staging.parquetOnce(s"$dir#sigs", s"${Staging.sideDir(dir)}/minhash_sigs") { p0 =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), minhash(tokens, K).as("sig"))
        .write.mode("overwrite").parquet(p0)
    }
    s.read.parquet(p)
  }

  /** (doc_id, band, bucket) — the only thing that flows into joins.
    * Derived from the materialized signatures and itself materialized
    * so the oracle bands the exact same rows.
    */
  private def bandedTable(s: SparkSession, dir: String): DataFrame = {
    val p = Staging.parquetOnce(s"$dir#banded", s"${Staging.sideDir(dir)}/minhash_banded") { p0 =>
      sigsTable(s, dir)
        .select(col("doc_id"),
          explode(expr(s"transform(sequence(0, ${BANDS - 1}), " +
            s"b -> struct(b AS band, hash(slice(sig, b * $ROWS + 1, $ROWS)) AS bucket))")).as("bb"))
        .select(col("doc_id"), col("bb.band"), col("bb.bucket"))
        .write.mode("overwrite").parquet(p0)
    }
    s.read.parquet(p)
  }

  /** Write-then-read-back of the simhash signature table. */
  private def simhashTable(s: SparkSession, dir: String): DataFrame = {
    val p = Staging.parquetOnce(s"$dir#simhash", s"${Staging.sideDir(dir)}/simhash_sigs") { p0 =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), simhash(split(col("text"), " ")).as("sig"))
        .write.mode("overwrite").parquet(p0)
    }
    s.read.parquet(p)
  }

  def declared: Seq[Query] = Seq(
    // ---- MinHash signatures (per-doc, deterministic) ------------------
    // One row per (doc, permutation index) — pure scalars, because the
    // driver's pandas-based comparator cannot sort array-typed cells.
    // The side table holds the per-token base hashes the oracle folds
    // the permutations over.
    Query("n50_minhash_signatures", s"""
        WITH th AS (SELECT * FROM read_parquet('__SIDE__/token_hashes/*.parquet')),
        coef(j, a_hi, a_lo, b_hi, b_lo) AS (VALUES
          $coefRows),
        hu AS (SELECT doc_id,
                 CASE WHEN h < 0 THEN CAST(h AS HUGEINT) + 18446744073709551616
                      ELSE CAST(h AS HUGEINT) END AS hq
               FROM th),
        v AS (SELECT doc_id, j,
                ((CAST(a_lo AS HUGEINT) * (hq % 4294967296)
                  + (((CAST(a_lo AS HUGEINT) * (hq // 4294967296)
                       + CAST(a_hi AS HUGEINT) * (hq % 4294967296)) % 4294967296) * 4294967296)
                 ) % 18446744073709551616
                 + (CAST(b_hi AS HUGEINT) * 4294967296 + CAST(b_lo AS HUGEINT))
                ) % 18446744073709551616 AS v
              FROM hu, coef),
        m AS (SELECT doc_id, j, min(v) AS mv FROM v GROUP BY doc_id, j)
        SELECT doc_id, CAST(j AS INT) AS sig_idx,
          CAST(CASE WHEN mv >= 9223372036854775808
                    THEN mv - 18446744073709551616 ELSE mv END AS BIGINT) AS sig_val
        FROM m""") { (s, dir) =>
      Staging.parquetOnce(s"$dir#tokhash", s"${Staging.sideDir(dir)}/token_hashes") { p =>
        Tables.load(s, dir, "documents")
          .select(col("doc_id"), explode(token_hashes(tokens)).as("h"))
          .write.mode("overwrite").parquet(p)
      }
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), posexplode(minhash(tokens, K)))
        .withColumnRenamed("pos", "sig_idx")
        .withColumnRenamed("col", "sig_val")
    },

    // ---- MinHash-LSH dedup clusters (linear in corpus size) -----------
    // Each doc's cluster representative = the smallest doc_id it shares
    // any band bucket with (one union-find hop — iterate for full
    // transitive closure if needed). Output size = corpus size
    // regardless of how degenerate the duplicate structure is.
    Query("n51_minhash_dedup_clusters", s"""
        WITH b AS (SELECT * FROM $banded),
        rep AS (SELECT band, bucket, min(doc_id) AS bucket_rep, count(*) AS bucket_size
                FROM b GROUP BY band, bucket)
        SELECT doc_id, min(bucket_rep) AS cluster_rep,
               max(bucket_size - 1) AS max_collisions,
               (min(bucket_rep) = doc_id) AS is_canonical
        FROM b JOIN rep USING (band, bucket)
        GROUP BY doc_id""") { (s, dir) =>
      val b = bandedTable(s, dir)
      val bucketRep = b.groupBy(col("band"), col("bucket"))
        .agg(min(col("doc_id")).as("bucket_rep"), count(lit(1)).as("bucket_size"))
      b.join(bucketRep, Seq("band", "bucket"))
        .groupBy(col("doc_id"))
        .agg(min(col("bucket_rep")).as("cluster_rep"),
             max(col("bucket_size") - 1).as("max_collisions"))
        .withColumn("is_canonical", col("cluster_rep") === col("doc_id"))
    },

    // ---- MinHash-LSH near-dup pairs (bucket-capped) -------------------
    Query("n53_minhash_lsh_pairs", s"""
        WITH b AS (SELECT * FROM $banded),
        sized AS (SELECT *, count(*) OVER (PARTITION BY band, bucket) AS bucket_size FROM b),
        f AS (SELECT * FROM sized WHERE bucket_size <= $MaxBucketSize),
        pairs AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
                  FROM f l JOIN f r USING (band, bucket)
                  WHERE l.doc_id < r.doc_id),
        s AS (SELECT * FROM $sigs)
        SELECT doc_a, doc_b,
          CAST(len(list_filter(range(1, ${K + 1}), i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / $K AS est_jaccard
        FROM pairs
        JOIN s sa ON sa.doc_id = doc_a
        JOIN s sb ON sb.doc_id = doc_b
        WHERE CAST(len(list_filter(range(1, ${K + 1}), i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / $K >= 0.5""") { (s, dir) =>
      val b = bandedTable(s, dir)
      val sized = b.withColumn("bucket_size",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("band"), col("bucket"))))
        .filter(col("bucket_size") <= MaxBucketSize)
      val a2 = sized.select(col("band"), col("bucket"), col("doc_id").as("doc_a"))
      val b2 = sized.select(col("band"), col("bucket"), col("doc_id").as("doc_b"))
      val pairs = a2.join(b2, Seq("band", "bucket"))
        .filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b").distinct()
      // est jaccard: rejoin constant-size signatures per UNIQUE pair
      // (through sigsTable, not a raw path read — self-heals if staged
      // files vanished)
      val sigs = sigsTable(s, dir)
      pairs
        .join(sigs.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sig", "sig_a"), "doc_a")
        .join(sigs.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sig", "sig_b"), "doc_b")
        .select(col("doc_a"), col("doc_b"),
          (sig_agree(col("sig_a"), col("sig_b")).cast("double") / K).as("est_jaccard"))
        .filter(col("est_jaccard") >= 0.5)
    },

    // ---- SimHash dedup: exact-signature groups + banded near-pairs ----
    Query("n52_simhash_pairs", s"""
        WITH s AS (SELECT * FROM $simsigs),
        chunks AS (SELECT doc_id, sig, c AS chunk, (sig >> (CAST(c AS INT) * 16)) & 65535 AS ck
                   FROM s, range(0, 4) t(c)),
        sized AS (SELECT *, count(*) OVER (PARTITION BY chunk, ck) AS bucket_size FROM chunks),
        f AS (SELECT * FROM sized WHERE bucket_size <= $MaxBucketSize)
        SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
               bit_count(xor(l.sig, r.sig)) AS hamming
        FROM f l JOIN f r USING (chunk, ck)
        WHERE l.doc_id < r.doc_id AND bit_count(xor(l.sig, r.sig)) <= 16""") { (s, dir) =>
      val sigs = simhashTable(s, dir)
      // 4 × 16-bit chunks: near-dups (hamming ≤ 3) share ≥1 exact chunk
      val chunks = sigs.select(col("doc_id"), col("sig"),
          explode(expr("transform(sequence(0, 3), " +
            "c -> struct(c AS chunk, shiftright(sig, c * 16) & 65535 AS ck))")).as("cc"))
        .select(col("doc_id"), col("sig"), col("cc.chunk"), col("cc.ck"))
      val sized = chunks.withColumn("bucket_size",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("chunk"), col("ck"))))
        .filter(col("bucket_size") <= MaxBucketSize)
      val a = sized.select(col("chunk"), col("ck"),
        col("doc_id").as("doc_a"), col("sig").as("sig_a"))
      val b = sized.select(col("chunk"), col("ck"),
        col("doc_id").as("doc_b"), col("sig").as("sig_b"))
      a.join(b, Seq("chunk", "ck")).filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          hamming64(col("sig_a"), col("sig_b")).as("hamming"))
        .distinct()
        .filter(col("hamming") <= 16)
    },

    // ---- Full connected components over the LSH bucket graph ----------
    // n51 is ONE union-find hop (doc → min over its buckets); chained
    // duplicates (A~B via bucket x, B~C via bucket y) need the
    // transitive closure. Hash-to-min label propagation over the
    // BIPARTITE doc–bucket graph: each round takes min(label) per
    // bucket then min over each doc's buckets — two shuffles, both on
    // bounded keys (bucket, then doc_id), NEVER a doc×doc pair join,
    // so a degenerate bucket costs |bucket| rows, not |bucket|².
    // Converges in O(cluster diameter) rounds (near-dup clusters are
    // shallow; the 20-round bound is generous). The driver-side loop
    // only issues a `changed == 0` COUNT per round — the labels stay
    // distributed. Each round ends in localCheckpoint(): caching alone
    // would keep the LOGICAL plan growing (Catalyst re-analyzes the
    // whole accumulated tree every round — iterative-algorithm plan
    // blowup); checkpointing truncates the lineage so round N plans
    // against a leaf. On a cluster this would be checkpoint() to
    // reliable storage for executor-loss tolerance.
    // Unrolled bucket-min label propagation (NOT a recursive-CTE
    // transitive closure: that materializes reachability PAIRS, which
    // goes quadratic the moment the fixture has a dense near-dup
    // cluster — at sf0.1 one hub bucket holds 1771 docs and the
    // closure runs for hours). Each round is two corpus-linear
    // aggregations — the same algorithm the engine runs, re-derived
    // independently in SQL. A final extra round guards convergence:
    // if any label still moves after $OracleLpRounds rounds, poison
    // rows (doc_id = -1) make the hash mismatch loud instead of
    // silently comparing non-converged labels.
    //
    // Every CTE is MATERIALIZED: DuckDB (1.0) inlines CTEs by
    // default, and each l_i is referenced twice per round, so the
    // inlined plan doubles every round — 2^12 scan expansions. That
    // blowup is what actually redded r11's n54 row: the binder died
    // with a *spurious* "No files found … minhash_banded/*.parquet"
    // while the staged files were on disk the whole time (bisect:
    // 6 rounds 0.4 s, 8 rounds 6.7 s, 10 rounds 137 s, 12 rounds =
    // the IO error). Materialized, the whole closure binds and runs
    // in ~0.1 s at sf0.01.
    Query("n54_connected_components", {
      val rounds = (0 until OracleLpRounds).map { i =>
          s"""bm$i AS MATERIALIZED (SELECT band, bucket, min(l.label) AS bmin
               FROM b JOIN l$i l USING (doc_id) GROUP BY band, bucket),
           dm$i AS MATERIALIZED (SELECT b.doc_id, min(bm.bmin) AS mn
               FROM b JOIN bm$i bm USING (band, bucket) GROUP BY b.doc_id),
           l${i + 1} AS MATERIALIZED (SELECT l.doc_id, least(l.label, coalesce(m.mn, l.label)) AS label
               FROM l$i l LEFT JOIN dm$i m USING (doc_id))"""
      }.mkString(",\n        ")
      val n = OracleLpRounds
      s"""
        WITH
        b AS MATERIALIZED (SELECT * FROM $banded),
        l0 AS MATERIALIZED (SELECT DISTINCT doc_id, doc_id AS label FROM b),
        $rounds,
        moved AS (SELECT count(*) AS n FROM l${n - 1} p JOIN l$n q USING (doc_id)
                  WHERE p.label <> q.label),
        comp AS (SELECT doc_id, label AS component FROM l$n)
        SELECT doc_id, component,
          count(*) OVER (PARTITION BY component) AS component_size,
          doc_id = component AS is_canonical
        FROM comp
        UNION ALL
        SELECT -1, -1, n, false FROM moved WHERE n > 0"""
    }) { (s, dir) =>
      // r21: the banded table feeds TWO joins per round — keyed on
      // doc_id and on (band, bucket) — and the old loop re-scanned the
      // parquet and re-shuffled it for BOTH joins in EVERY round.
      // Materialize it once per layout (localCheckpoint pins the
      // hash partitioning, so EnsureRequirements plans the per-round
      // joins exchange-free on the b side; labels/next inherit the
      // same doc_id partitioning from their checkpointed join output).
      // On a cluster this is checkpoint() to reliable storage — the
      // standard iterative-graph preparation (partition the edge list
      // by each join key once, iterate over it).
      val nPart = s.conf.get("spark.sql.shuffle.partitions").toInt
      val b0 = bandedTable(s, dir)
      // checkpointWithHandles (r22): Dataset.unpersist() never releases
      // localCheckpoint blocks (see Staging) — the handles are the
      // persisted RDDs themselves, released for real below.
      val (bByDoc, bByDocH) =
        Staging.checkpointWithHandles(b0.repartition(nPart, col("doc_id")))
      val (bByBucket, bByBucketH) =
        Staging.checkpointWithHandles(b0.repartition(nPart, col("band"), col("bucket")))
      var labels = bByDoc.select(col("doc_id")).distinct()
        .withColumn("label", col("doc_id"))
      var changed = 1L
      var iter = 0
      var prevH: Seq[org.apache.spark.rdd.RDD[_]] = Nil
      while (changed > 0 && iter < 20) {
        val bucketMin = bByDoc.join(labels, "doc_id")
          .groupBy(col("band"), col("bucket"))
          .agg(min(col("label")).as("bmin"))
        val cand = bByBucket.join(bucketMin, Seq("band", "bucket"))
          .groupBy(col("doc_id")).agg(min(col("bmin")).as("cand"))
        // r21: the convergence count rides the checkpoint job as an
        // observed metric (CollectMetrics is a pass-through, so the
        // pinned partitioning is unchanged) — the old shape paid a
        // SECOND job per round just to count `moved` over the
        // checkpointed blocks. One distributed job per round now.
        //
        // r21 pointer jumping: after the hash-to-min step, follow the
        // new label ONE hop (labels are doc_ids, so label-of-label is
        // a self-join of the stepped frame) — the classic shortcut
        // that turns O(diameter) rounds into O(log diameter). Labels
        // stay within the component and only decrease (mid ≤ old,
        // jumped ≤ mid), and the fixpoints coincide: jumped = old for
        // every doc forces mid = old (jumped ≤ mid ≤ old), which is
        // exactly the pre-jump termination condition — so the
        // converged labels are the same component minima the oracle's
        // recursive closure computes.
        val obs = new org.apache.spark.sql.Observation(s"n54_round_$iter")
        val stepped = labels.join(cand, Seq("doc_id"))
          .select(col("doc_id"), col("label").as("old"),
            least(col("label"), col("cand")).as("mid"))
        val hop = stepped.select(col("doc_id").as("m_doc"), col("mid").as("m_lab"))
        val (next, nextH) = Staging.checkpointWithHandles(
          stepped.join(hop, col("mid") === col("m_doc"))
            .select(col("doc_id"), col("m_lab").as("label"),
              (col("m_lab") < col("old")).as("moved"))
            .observe(obs, sum(when(col("moved"), 1L).otherwise(0L)).as("n_moved")))
        // sum over zero rows is NULL — an empty label frame means
        // nothing moved (the old count() returned 0 there)
        changed = Option(obs.get("n_moved")).map(_.asInstanceOf[Long]).getOrElse(0L)
        // checkpoint blocks are pinned (non-recomputable) — release the
        // superseded round's or they accumulate for the JVM lifetime
        Staging.releaseCheckpoint(prevH)
        prevH = nextH
        labels = next.select(col("doc_id"), col("label"))
        iter += 1
      }
      // A component with diameter > 20 would silently emit
      // non-converged labels while the oracle's recursive CTE computes
      // the full closure — make any divergence attributable.
      require(changed == 0,
        s"n54 label propagation did not converge in $iter rounds ($changed moved)")
      System.err.println(s"[n54] label propagation converged in $iter rounds")
      // the final result depends only on the last labels checkpoint —
      // release the two pinned b layouts now, and hand the final labels
      // blocks to the supersede registry so the NEXT n54 invocation
      // frees them (they must outlive this query's consumption)
      Staging.releaseCheckpoint(bByDocH); Staging.releaseCheckpoint(bByBucketH)
      Staging.supersedeHandles(s"$dir#n54_labels", prevH)
      val sizes = labels.groupBy(col("label"))
        .agg(count(lit(1)).as("component_size"))
      labels.join(sizes, "label")
        .select(col("doc_id"), col("label").as("component"),
          col("component_size"),
          (col("doc_id") === col("label")).as("is_canonical"))
    }
  )

  /** Oracles for everything downstream of the custom hash Expressions,
    * over the materialized signature tables (see object Scaladoc).
    * n50's oracle rebuilds the signatures themselves from the base
    * token hashes: v = (a·h + b) mod 2⁶⁴ per permutation via a
    * 32-bit-split HUGEINT multiply (DuckDB BIGINT multiplication
    * errors on overflow instead of wrapping), then the UNSIGNED min —
    * values land in [0, 2⁶⁴) so plain numeric min is unsigned min —
    * mapped back to the signed bigint Spark emits.
    */
  private val banded = "read_parquet('__SIDE__/minhash_banded/*.parquet')"
  private val sigs = "read_parquet('__SIDE__/minhash_sigs/*.parquet')"
  private val simsigs = "read_parquet('__SIDE__/simhash_sigs/*.parquet')"
  private val coefRows = {
    val (cas, cbs) = graft.functions.MinHashSignature.coefficients(K)
    (0 until K).map { j =>
      s"(${j}, ${cas(j) >>> 32}, ${cas(j) & 0xFFFFFFFFL}, " +
        s"${cbs(j) >>> 32}, ${cbs(j) & 0xFFFFFFFFL})"
    }.mkString(",\n          ")
  }
}
