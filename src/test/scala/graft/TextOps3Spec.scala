package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic gates for the round-5 curation ops (t50–t52, n54, v49) —
  * value-level parity is the DuckDB oracle's job; these pin the
  * properties the oracle can't see (invariants, not hashes).
  */
class TextOps3Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = TestSpark.sfDir

  test("t50: planted PII is found and fully redacted") {
    val r = SparkEntry.queries("t50_pii_redaction")(spark, dir)
    val bad = r.filter(
      col("n_email") < 1 || col("n_ip") < 1 || col("n_phone") < 1 ||
        col("redacted").contains("@example.com") ||
        col("redacted").rlike("555-\\d{4}") ||
        !col("redacted").contains("<EMAIL>") ||
        !col("redacted").contains("<IP>") ||
        !col("redacted").contains("<PHONE>")).count()
    assert(bad == 0)
  }

  test("t51: bm25 positive, bounded term count, and only matching docs appear") {
    val r = SparkEntry.queries("t51_bm25")(spark, dir)
    assert(r.count() > 0)
    assert(r.filter(col("bm25") <= 0 || col("n_matched") > 3).count() == 0)
    // every scored doc really contains a query term
    val docs = graft.Tables.load(spark, dir, "documents")
      .filter(col("text").rlike("\\b(spark|join|merge)\\b"))
      .select(col("doc_id"))
    assert(r.join(docs, Seq("doc_id"), "left_anti").count() == 0)
  }

  test("t52: target-language docs score higher importance on average") {
    val r = SparkEntry.queries("t52_dsir_weights")(spark, dir)
    val byLang = r.join(
        graft.Tables.load(spark, dir, "documents").select("doc_id", "lang"),
        "doc_id")
      .groupBy(col("lang") === "en")
      .agg(avg(col("importance")).as("imp"))
      .collect().map(x => x.getBoolean(0) -> x.getDouble(1)).toMap
    // DSIR's point: n-grams typical of the target distribution score
    // above the raw mixture. The en/zh/de vocab overlap keeps the gap
    // small but the SIGN must hold.
    assert(byLang(true) > byLang(false))
  }

  test("n54: docs sharing any bucket share a component (closure n51 lacks)") {
    val comp = SparkEntry.queries("n54_connected_components")(spark, dir)
    // rebuild the banded table the query materialized
    val banded = spark.read.parquet(
      s"/tmp/graft_oracle/${new java.io.File(dir).getName}/minhash_banded")
    val perBucket = banded.join(comp, "doc_id")
      .groupBy("band", "bucket")
      .agg(countDistinct(col("component")).as("nc"))
    assert(perBucket.filter(col("nc") > 1).count() == 0)
    // a component rep is a member of its own component
    assert(comp.filter(col("is_canonical")).count() ==
      comp.agg(countDistinct(col("component"))).head().getLong(0))
  }

  test("t53: gopher rules produce a real pass/fail mix and bounded metrics") {
    val r = SparkEntry.queries("t53_gopher_rules")(spark, dir)
    val n = r.count()
    val np = r.filter(col("passes")).count()
    assert(np > 0 && np < n) // thresholds are fixture-scaled to keep signal
    assert(r.filter(col("alpha_word_frac") > 1.0 ||
      col("bullet_line_frac") > 1.0 || col("n_stopwords") > 8).count() == 0)
  }

  test("t54: CMS estimates only overestimate and rank the true top token first") {
    val est = SparkEntry.queries("t54_heavy_hitters")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = graft.Tables.load(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("t"))
      .groupBy("t").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // CMS invariant: min-of-bucket-counts can never undercount
    assert(est.forall { case (t, e) => e >= exact(t) })
    val trueTop = exact.maxBy(x => (x._2, x._1))._1
    assert(est.contains(trueTop))
  }

  test("v49: codes stay in int8 range and dequant error is within half a step") {
    val r = SparkEntry.queries("v49_int8_quantization")(spark, dir)
    // half-step bound: err ≤ scale/2 per dim; bound by the widest dim
    val e = graft.Tables.load(spark, dir, "embeddings")
      .select(posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy(col("dim"))
      .agg(((max(col("v")) - min(col("v"))) / 255.0 / 2.0).as("half"))
      .agg(max(col("half"))).head().getDouble(0)
    assert(r.filter(col("max_abs_err") > e + 1e-12).count() == 0)
    assert(r.filter(col("sum_code") < -128L * 64 || col("sum_code") > 127L * 64)
      .count() == 0)
    assert(r.filter(col("n_dims") =!= 64).count() == 0)
  }

  test("t56: LM-trained-on-en scores en docs lower cross-entropy than non-en") {
    val r = SparkEntry.queries("t56_lm_perplexity")(spark, dir)
      .join(graft.Tables.load(spark, dir, "documents").select(col("doc_id"), col("lang")),
        "doc_id")
    val byLang = r.groupBy(col("lang") === "en")
      .agg(avg(col("cross_entropy")).as("ce"))
      .collect().map(x => x.getBoolean(0) -> x.getDouble(1)).toMap
    // the filter's whole premise (CCNet): target-domain text is less
    // surprising to a target-domain LM
    assert(byLang(true) < byLang(false),
      s"en ${byLang(true)} should be < non-en ${byLang(false)}")
    // every scored doc has >= 1 pair and a finite score
    assert(r.filter(col("n_pairs") < 1 || isnan(col("cross_entropy")) ||
      col("cross_entropy").isNull).count() == 0)
  }

  test("t57: BPE encoding is bounded by chars above and words below") {
    val r = SparkEntry.queries("t57_bpe_encode")(spark, dir)
    // merges only ever SHRINK a word's token count from |chars| and
    // can never go below 1 token per word
    assert(r.filter(col("n_bpe_tokens") > col("n_chars") ||
      col("n_bpe_tokens") < col("n_words")).count() == 0)
    // the 8 trained merges actually compress something in the corpus
    val totals = r.agg(sum("n_bpe_tokens").as("b"), sum("n_chars").as("c"))
      .collect()(0)
    assert(totals.getLong(0) < totals.getLong(1))
  }

  test("t59: exact-substring removal is token-consistent and selective") {
    val r = SparkEntry.queries("t59_exact_substr_removal")(spark, dir)
    // cleaned text really contains n_tokens - n_removed tokens
    val bad = r.filter(
      when(col("cleaned_text") === "", lit(0))
        .otherwise(size(split(col("cleaned_text"), " ")))
        =!= col("n_tokens") - col("n_removed")).count()
    assert(bad == 0)
    // the synthetic corpus plants duplicated spans → some docs lose
    // tokens; removal must be selective, not a wipe
    val agg = r.agg(sum("n_removed").as("rm"), sum("n_tokens").as("tot"))
      .collect()(0)
    assert(agg.getLong(0) > 0 && agg.getLong(0) < agg.getLong(1))
    assert(r.filter(col("n_removed") === 0).count() > 0)
  }

  test("t60: shard manifest accounts for every document exactly once") {
    val r = SparkEntry.queries("t60_shard_manifest")(spark, dir).collect()
    val d = graft.Tables.load(spark, dir, "documents")
    val total = d.count()
    val totalTok = d.select(sum(size(split(col("text"), " ")))).head().getLong(0)
    assert(r.map(_.getLong(1)).sum == total)
    assert(r.map(_.getLong(2)).sum == totalTok)
    assert(r.forall(x => x.getLong(0) >= 0 && x.getLong(0) < 16))
  }

  test("t61: mixture selection respects quotas up to one-doc overshoot") {
    val rows = SparkEntry.queries("t61_token_budget_mix")(spark, dir).collect()
    assert(rows.nonEmpty)
    val maxTok = graft.Tables.load(spark, dir, "documents")
      .select(max(size(split(col("text"), " ")))).head().getInt(0).toLong
    rows.foreach { x =>
      val (sel, quota) = (x.getLong(2), x.getLong(3))
      // either the quota was crossed (overshoot bounded by one doc) or
      // the source ran out of documents under quota
      assert(sel < quota + maxTok)
    }
    // weight ratios surface in the quotas (src0:src2 = 4:1)
    val byName = rows.map(x => x.getString(0) -> x.getLong(3)).toMap
    for (a <- byName.get("src0"); b <- byName.get("src2")) assert(a == 4 * b)
  }

  test("t55: BPE merge training is deterministic and consistent with t49") {
    def run() = SparkEntry.queries("t55_bpe_merges")(spark, dir)
      .orderBy("merge_rank")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
    val a = run()
    // merge order is fully deterministic (argmax tie-break on (n desc,
    // lhs, rhs)) — a second training run yields the identical rules
    assert(a.sameElements(run()))
    assert(a.map(_._1).sameElements(1L to 8L))
    assert(a.forall { case (_, l, r, m, n) => m == l + r && n > 0 })
    // rank-1 rule IS t49's argmax char pair (t49 counts the same first
    // iteration; its 2-char pair key equals lhs||rhs for single chars)
    val t49Top = SparkEntry.queries("t49_bpe_pair_counts")(spark, dir)
      .orderBy(desc("n"), asc("pair")).limit(1).collect()(0)
    assert(a.head._4 == t49Top.getString(0) && a.head._5 == t49Top.getLong(1))
    // later rules reference previously-merged symbols or base chars
    // only: every lhs/rhs is either 1 char or a previously-made merge
    val made = scala.collection.mutable.Set.empty[String]
    a.foreach { case (_, l, r, m, _) =>
      assert(l.length == 1 || made.contains(l), s"lhs $l not derivable")
      assert(r.length == 1 || made.contains(r), s"rhs $r not derivable")
      made += m
    }
  }

  /** A `documents` table holding only `texts`, in its own temp dir. */
  private def handCorpus(texts: String*): String = {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_bpe").toString
    texts.zipWithIndex.map { case (t, i) => (i + 1L, t) }.toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$d/documents.parquet")
    d
  }

  // Word counts: aaa 4, ＡＡ 3, 😀😀 3, xyz 2, banana 1. Rules 1-2 pin the
  // greedy non-overlapping merge ("aaa" under (a, a) is [aa, a], so the
  // next pair is (aa, a) with 4); rules 3-4 pin the count tie between
  // U+FF21 and U+1F600, broken in UTF-8 byte order (String.compareTo
  // orders the UTF-16 surrogate of U+1F600 first).
  private lazy val bpeDir = handCorpus(
    "aaa aaa ＡＡ xyz", "aaa ＡＡ 😀😀 banana", "aaa  aaa 😀😀 ＡＡ", "xyz 😀😀")

  test("t55: hand corpus pins merge order, greedy merge and UTF-8 tie order") {
    val rules = SparkEntry.queries("t55_bpe_merges")(spark, bpeDir)
      .orderBy("merge_rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    val (fw, emoji) = ("\uFF21", "\uD83D\uDE00")
    assert(fw.compareTo(emoji) > 0) // the order the trainer must NOT use
    assert(rules.toSeq == Seq(
      (1L, "a", "a", "aa", 10L),
      (2L, "aa", "a", "aaa", 5L),
      (3L, fw, fw, fw + fw, 3L),
      (4L, emoji, emoji, emoji + emoji, 3L),
      (5L, "a", "n", "an", 2L),
      (6L, "x", "y", "xy", 2L),
      (7L, "xy", "z", "xyz", 2L),
      (8L, "an", "a", "ana", 1L)))
  }

  test("t57: hand corpus per-doc counts follow the trained segmentation") {
    val r = SparkEntry.queries("t57_bpe_encode")(spark, bpeDir)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // (doc_id, n_words, n_bpe_tokens, n_chars): every word is one token
    // after the 8 rules except banana, which segments as [b, an, ana]
    assert(r.toSeq == Seq((1L, 4L, 4L, 11L), (2L, 4L, 6L, 13L),
      (3L, 4L, 4L, 10L), (4L, 2L, 2L, 5L)))
  }

  test("t55/t57: repeated training keeps no more persisted data than one run") {
    val sc = spark.sparkContext
    def t55() = SparkEntry.queries("t55_bpe_merges")(spark, dir).collect()
    t55()
    val first = sc.getPersistentRDDs.size
    (2 to 5).foreach(_ => t55())
    SparkEntry.queries("t57_bpe_encode")(spark, dir).collect()
    assert(sc.getPersistentRDDs.size <= first)
  }
}
