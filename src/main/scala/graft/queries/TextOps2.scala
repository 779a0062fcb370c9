package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String
import graft.Tables

/** Round-5 training-data pipeline operators over `documents`:
  * cross-document duplicated-span statistics (the scalable stand-in
  * for suffix-array exact-substring dedup, Lee et al. 2022
  * "Deduplicating Training Data Makes Language Models Better"),
  * token-budget sequence packing (the concat-and-chunk step that
  * turns curated documents into fixed-length training sequences), and
  * C4-style blocklist filtering (Raffel et al. 2020 §2.2's "bad words"
  * page filter).
  */
object TextOps2 {

  private val tokens: Column = split(col("text"), " ")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- Cross-document duplicated 4-gram spans -----------------------
    // Per doc: how many of its 4-gram positions also occur in ANOTHER
    // document. Scale path: explode to (gram-hash, doc) rows via the
    // codegen'd ngram_hashes (8-byte long keys, no gram-string
    // allocation), pre-aggregate to per-(doc, gram) counts, count docs
    // per gram off that compact table, join back on the gram hash —
    // every shuffle keys on the 64-bit gram hash (cardinality = corpus
    // n-grams, uniformly distributed), never a doc×doc pair join, and
    // the (doc, gram)→Exchange(h) subtree is shared by the join's two
    // branches (ReusedExchange), so the corpus explodes exactly ONCE.
    // This is the distributed approximation of the suffix-array pass in
    // Lee et al.; t43 (decontamination) is the same skeleton against an
    // external eval set, this one is corpus-internal. The hash is
    // engine-internal (never output), so the DuckDB oracle keeps its
    // own md5 keys — counts agree regardless of hash choice.
    "t45_dup_ngram_spans" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val gc = d.select(col("doc_id"),
          explode(graft.functions.functions.ngram_hashes(tokens, 4)).as("h"))
        .groupBy(col("doc_id"), col("h")).agg(count(lit(1)).as("c"))
      // nd via a window over h instead of a groupBy+self-join: the
      // join formulation re-plans the explode subtree per branch (its
      // Exchange canonicalizes differently once Catalyst prunes the
      // count into a DISTINCT), so the corpus would scan+explode
      // twice; the window keeps ONE scan and shuffles only the
      // compact (doc, gram, c) table. (doc,h) is distinct here ⇒
      // per-h row count = distinct docs.
      gc.withColumn("nd", count(lit(1)).over(Window.partitionBy(col("h"))))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_grams"),
          sum(when(col("nd") >= 2, col("c")).otherwise(0L)).as("n_dup_grams"))
        .withColumn("dup_frac",
          col("n_dup_grams").cast("double") / col("n_grams"))
    }),

    // ---- Token-budget sequence packing --------------------------------
    // Concat-and-chunk: documents are laid out in doc_id order within
    // each source shard and cut into 256-token training sequences; a
    // document belongs to the sequence where it STARTS (so sequences
    // can overfill by one crossing doc — standard packing semantics).
    // Scale: the running sum partitions by source — each shard packs
    // independently, so there is no global sort; at 100 TB the
    // partition key would be (source, file-split) with identical code.
    "t46_sequence_packing" -> ((s, dir) => {
      val budget = 256
      val d = Tables.load(s, dir, "documents")
      // Frame pinned to ROWS (not Spark's default RANGE): on a tie in
      // doc_id RANGE would sum peers together and diverge from the
      // oracle's ROWS frame. All-integer output surface (ppm instead of
      // a raw double) so the driver's pandas comparator can never see a
      // float-representation difference.
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      d.select(col("source"), col("doc_id"), size(tokens).as("n_tok"))
        .withColumn("cum", sum(col("n_tok")).over(w))
        .withColumn("seq_id", expr(s"(cum - n_tok) div $budget"))
        .groupBy(col("source"), col("seq_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("seq_tokens"),
          min(col("doc_id")).cast("long").as("first_doc"),
          max(col("doc_id")).cast("long").as("last_doc"))
        .withColumn("fill_ratio_ppm",
          round(col("seq_tokens") * lit(1000000L) / budget).cast("long"))
    }),

    // ---- C4-style blocklist filter ------------------------------------
    // Documents containing any blocklisted token are flagged (C4 drops
    // the whole page on a single hit). Entirely map-side: the filter
    // lambda runs inside whole-stage codegen over the token array —
    // zero shuffles at any scale; the blocklist (in production: the
    // ~400-entry badwords list) rides in the plan like a broadcast.
    "t47_blocklist_filter" -> ((s, dir) => {
      val blocklist = Seq("slow", "dup")
      val d = Tables.load(s, dir, "documents")
      d.select(col("doc_id"), col("source"),
          size(filter(tokens, t => t.isin(blocklist: _*)))
            .as("n_blocked_tokens"))
        .withColumn("blocked", col("n_blocked_tokens") > 0)
    }),

    // ---- C4-style line-level dedup across the corpus ------------------
    // (Raffel et al. 2020 §2.2 deduplicate "three-sentence spans";
    // CCNet dedups paragraphs the same way.) "Lines" here are 4-word
    // aligned chunks (the synthetic corpus has no sentence
    // punctuation); each distinct line survives only at its globally
    // first occurrence (min (doc_id, pos)), then documents are
    // reassembled from their surviving lines in order. Scale: the
    // keep-first winner is an AGGREGATE — min(struct(doc_id,pos)) per
    // line — so map-side combine pre-reduces duplicates before the
    // line-keyed shuffle (the earlier row_number window shuffled every
    // corpus line full-width with no partial aggregation); shuffle 2
    // keys on doc_id for reassembly — linear, no pair joins.
    "t48_line_dedup" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val lines = d.select(col("doc_id"),
        posexplode(expr(
          "transform(sequence(0, CAST((size(split(text, ' ')) + 3) DIV 4 AS INT) - 1), " +
            "i -> concat_ws(' ', slice(split(text, ' '), i * 4 + 1, 4)))"))
          .as(Seq("pos", "line")))
      val kept = lines.groupBy(col("line"))
        .agg(min(struct(col("doc_id"), col("pos"))).as("w"))
        .select(col("w.doc_id").as("doc_id"), col("w.pos").as("pos"), col("line"))
      val agg = kept.groupBy("doc_id").agg(
        count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("line")))),
          x => x.getField("line")), " ").as("dedup_text"))
      d.select(col("doc_id"),
          expr("CAST((size(split(text, ' ')) + 3) DIV 4 AS BIGINT)").as("n_chunks"))
        .join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_chunks"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("dedup_text"), lit("")).as("dedup_text"))
    }),

    // ---- BPE merge-pair counting (tokenizer training step) ------------
    // The first iteration of BPE training (Sennrich et al. 2016;
    // SentencePiece/HF tokenizers): count adjacent symbol pairs across
    // the corpus weighted by word frequency — the argmax pair becomes
    // the first merge rule. Scale: corpus → word-frequency table
    // (Zipf-small, one shuffle on word), then char pairs explode off
    // the DISTINCT word table (not the corpus), one shuffle on pair
    // (≤ alphabet² keys) with map-side partial sums. This is exactly
    // how distributed tokenizer training parallelizes.
    "t49_bpe_pair_counts" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val words = d.select(explode(tokens).as("w"))
        .groupBy("w").agg(count(lit(1)).as("wc"))
        .filter(length(col("w")) >= 2)
      words.select(col("wc"), explode(expr(
          "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"))
        .groupBy("pair").agg(sum("wc").as("n"))
        .orderBy(desc("n"), asc("pair")).limit(50)
    }),

    // ---- Iterative BPE merge training (Sennrich et al. 2016) ----------
    // The full distributed tokenizer-training loop t49 only took one
    // step of: count adjacent symbol pairs weighted by word frequency,
    // merge the argmax pair corpus-wide, re-segment, repeat. Scale
    // shape: the corpus collapses ONCE into the Zipf-bounded
    // word-frequency table (one shuffle on word), persisted as an RDD;
    // every round after that touches only that bounded table. One job
    // counts every adjacent pair into a driver-side map (bounded by the
    // vocabulary's distinct pairs, ≤ |alphabet|² for single chars plus
    // one new symbol per round). Each round then takes the argmax on
    // the driver and runs ONE job that re-segments the persisted table
    // and returns per-partition count deltas of the words the merge
    // changed (−wc per old pair, +wc per new one), so no round recounts
    // the table or plans a new query: delta iteration, the top-1 kept
    // under deltas. Greedy left-to-right non-overlapping merge
    // semantics: the fold compares whole symbols, so "aaa" under (a,a)
    // becomes [aa, a], never [aa, aa] — matching the reference BPE
    // implementations.
    "t55_bpe_merges" -> ((s, dir) => {
      val (rules, _) = trainBpe(s, dir, 8)
      import s.implicits._
      rules.toDF("merge_rank", "lhs", "rhs", "pair_count")
        .select(col("merge_rank"), col("lhs"), col("rhs"),
          concat(col("lhs"), col("rhs")).as("merged"), col("pair_count"))
    }),

    // ---- BPE tokenizer APPLICATION (the train→apply loop closed) ------
    // Segment the corpus with the t55-trained merges and report per-doc
    // token statistics — the distributed "tokenize the corpus" pass a
    // training pipeline runs after tokenizer training. Scale: the
    // trained segmentation is a VOCAB-bounded (word → n_subtokens)
    // table broadcast onto one corpus explode; one doc_id regroup.
    // All-integer output surface.
    "t57_bpe_encode" -> ((s, dir) => {
      val (_, seg) = trainBpe(s, dir, 8)
      val wordTokens = seg.select(col("w"), size(col("syms")).cast("long").as("n_bpe"))
      val d = Tables.load(s, dir, "documents")
      d.select(col("doc_id"), explode(tokens).as("w"))
        .filter(col("w") =!= "")
        .join(broadcast(wordTokens), "w")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"),
          sum(col("n_bpe")).as("n_bpe_tokens"),
          sum(length(col("w")).cast("long")).as("n_chars"))
    }),

    // ---- URL canonicalization + URL-level dedup -----------------------
    // The C4/RefinedWeb first pass: canonicalize each page's URL
    // (lowercase, strip tracking query params, strip the trailing
    // slash) and keep only the first page per canonical URL. The
    // synthetic corpus carries no URL column, so URLs are derived from
    // doc_id with deliberate COLLISIONS (mod-cycled host/path plus a
    // rotating utm-param / trailing-slash / bare variant) — the
    // canonicalizer then has real work on every row. Scale: one
    // shuffle on the canonical-URL hash for the keep-first rank;
    // regex canonicalization is map-side codegen. Patterns stay in the
    // RE2 ∩ java.util.regex subset (t39 discipline).
    "t58_url_dedup" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val url = concat(lit("https://Site"), (col("doc_id") % 40).cast("string"),
        lit(".Example.COM/p/"), (col("doc_id") % 120).cast("string"),
        when(col("doc_id") % 3 === 0, lit("?utm_source=feed"))
          .when(col("doc_id") % 3 === 1, lit("/")).otherwise(lit("")))
      val canon = lower(regexp_replace(
        regexp_replace(url, "\\?utm_[^#]*$", ""), "/+$", ""))
      val wFirst = Window.partitionBy(col("canon_url")).orderBy(col("doc_id"))
      d.select(col("doc_id"), url.as("url"), canon.as("canon_url"))
        .withColumn("kept",
          row_number().over(wFirst) === 1)
        .withColumn("n_variants",
          count(lit(1)).over(Window.partitionBy(col("canon_url"))).cast("long"))
    }),

    // ---- Exact-substring duplicate-span REMOVAL -----------------------
    // Lee et al. 2021 ("Deduplicating Training Data Makes Language
    // Models Better", ExactSubstr): t45 DETECTS cross-document
    // duplicated 4-gram spans; this query performs the actual removal —
    // every token covered by a duplicated gram occurrence is cut,
    // EXCEPT at the gram's globally-first (canonical) occurrence, and
    // documents are reassembled from their surviving tokens in order.
    // Scale: all shuffles key on the gram (uniform) or on (doc,pos);
    // never a doc×doc join. Gram keys here are the gram STRINGS so the
    // removal is exact and the oracle replays it verbatim; at 100 TB
    // you'd switch the g-keyed shuffles to the 64-bit `ngram_hashes`
    // keys (t45's trick) and accept the birthday-bounded collision
    // rate, as the reference pipeline does.
    "t59_exact_substr_removal" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
        .select(col("doc_id"), tokens.as("toks"))
      val occ = d.filter(size(col("toks")) >= 4)
        .select(col("doc_id"), posexplode(expr(
          "transform(sequence(1, size(toks) - 3), i -> concat_ws(' ', slice(toks, i, 4)))"))
          .as(Seq("pi", "g")))
        .select(col("doc_id"), (col("pi") + 1).cast("long").as("pos"), col("g"))
      // per-gram canonical occurrence + multi-doc test via ONE window
      // over g (the t45 discipline: a groupBy+join-back formulation
      // re-plans — and re-explodes — the corpus subtree per branch;
      // the window keys a single shuffle on the uniform gram). Struct
      // min orders (doc_id, pos) lexicographically = globally first;
      // ≥2 distinct docs ⟺ min(doc_id) ≠ max(doc_id).
      val wg = Window.partitionBy(col("g"))
      // r21: decide with small rows, move big rows once (guide §8).
      // The old shape re-exploded EVERY doc's tokens, anti-joined the
      // full (doc, pos, word) stream against the removal list on
      // (doc_id, p) and re-assembled docs with a collect_list groupBy —
      // two full token-stream shuffles whose bytes dwarf the corpus.
      // The removal DECISIONS are proportional to duplicated spans
      // only, so: aggregate them to one small (doc_id, rm-positions)
      // row per affected doc, join THAT to the corpus (one payload
      // move, broadcastable when small), and cut tokens in place with
      // an indexed higher-order filter — same surviving tokens in the
      // same order, no token ever shuffled.
      val remSets = occ
        .withColumn("first", min(struct(col("doc_id"), col("pos"))).over(wg))
        .withColumn("multi", min(col("doc_id")).over(wg) =!= max(col("doc_id")).over(wg))
        .filter(col("multi") &&
          !(col("doc_id") === col("first.doc_id") && col("pos") === col("first.pos")))
        .groupBy("doc_id")
        .agg(array_distinct(flatten(collect_list(
          expr("sequence(pos, pos + 3)")))).as("rm"))
      // array_except (hash-set membership on primitive arrays, left
      // order preserved) keeps the per-doc cut O(n_tokens + |rm|); a
      // per-token array_contains would be O(n_tokens·|rm|) — quadratic
      // on a fully-duplicated doc.
      d.join(remSets, Seq("doc_id"), "left")
        .withColumn("kept", expr(
          "CASE WHEN rm IS NULL THEN toks " +
            "ELSE transform(array_except(sequence(CAST(1 AS BIGINT), CAST(size(toks) AS BIGINT)), rm), " +
            "p -> element_at(toks, CAST(p AS INT))) END"))
        .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"),
          (size(col("toks")) - size(col("kept"))).cast("long").as("n_removed"),
          concat_ws(" ", col("kept")).as("cleaned_text"))
    })
  )

  /** A word of the BPE training table: its corpus frequency and its
    * segmentation; `prev` is the segmentation before the last merge if
    * that merge changed it, else null. */
  private final case class BpeWord(w: String, wc: Long, syms: Array[String], prev: Array[String])

  private type SymPair = (String, String)

  private def symPairs(syms: Array[String]): Iterator[SymPair] =
    Iterator.range(1, syms.length).map(i => (syms(i - 1), syms(i)))

  /** The reference merge fold: a symbol equal to `r` that follows an
    * accumulated `l` joins it, left to right, so "aaa" under (a, a) is
    * [aa, a]. Returns `syms` itself when nothing merged. */
  private def mergePair(syms: Array[String], l: String, r: String): Array[String] = {
    val acc = scala.collection.mutable.ArrayBuffer.empty[String]
    syms.foreach { x =>
      if (acc.nonEmpty && acc.last == l && x == r) acc(acc.length - 1) = l + r
      else acc += x
    }
    if (acc.length == syms.length) syms else acc.toArray
  }

  /** Spark's string order (UTF-8 bytes); `String.compareTo` orders
    * UTF-16 units, which differs above U+FFFF. */
  private val utf8Order: Ordering[String] =
    (a, b) => UTF8String.fromString(a).binaryCompare(UTF8String.fromString(b))

  /** The next rule: `ORDER BY n DESC, lhs, rhs LIMIT 1` over the
    * counts (all positive: a count that falls to 0 is removed). */
  private def bestPair(counts: scala.collection.Map[SymPair, Long]): Option[(SymPair, Long)] =
    counts.minByOption { case ((l, r), n) => (n, l, r) }(
      Ordering.Tuple3(Ordering.Long.reverse, utf8Order, utf8Order))

  /** Shared distributed BPE trainer (t55/t57): returns the ordered
    * merge rules and the final per-word segmentation (w, wc, syms).
    * The pair counts live on the driver across rounds; each round
    * re-segments the persisted word table in one job that also returns
    * the count deltas of the words the merge changed (see the t55
    * Scaladoc for the bounds).
    */
  private def trainBpe(s: SparkSession, dir: String, nMerges: Int)
      : (Seq[(Long, String, String, Long)], DataFrame) = {
    import s.implicits._
    val d = Tables.load(s, dir, "documents")
    var words = d.select(explode(tokens).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("wc"))
      .select(col("w"), col("wc"), expr("split(w, '')").as("syms"))
      .as[(String, Long, Array[String])].rdd
      .map { case (w, wc, syms) => BpeWord(w, wc, syms, null) }
      .persist(StorageLevel.MEMORY_AND_DISK)
    var live = words
    val counts = scala.collection.mutable.HashMap.empty[SymPair, Long]
    counts ++= words.flatMap(x => symPairs(x.syms).map(_ -> x.wc)).reduceByKey(_ + _).collect()
    val rules = Seq.newBuilder[(Long, String, String, Long)]
    // once no pair is left, the remaining rounds find none either
    for (rank <- 1 to nMerges; ((l, r), n) <- bestPair(counts)) {
      rules += ((rank.toLong, l, r, n))
      words = words.map { x =>
        val m = mergePair(x.syms, l, r)
        BpeWord(x.w, x.wc, m, if (m eq x.syms) null else x.syms)
      }
      // the last merge is never counted: t57's consumer computes it
      if (rank < nMerges) {
        words.persist(StorageLevel.MEMORY_AND_DISK)
        val deltas = words.mapPartitions { it =>
          val m = scala.collection.mutable.HashMap.empty[SymPair, Long]
          it.filter(_.prev != null).foreach { x =>
            symPairs(x.prev).foreach(p => m(p) = m.getOrElse(p, 0L) - x.wc)
            symPairs(x.syms).foreach(p => m(p) = m.getOrElse(p, 0L) + x.wc)
          }
          Iterator.single(m)
        }.collect()
        deltas.foreach(_.foreach { case (p, dn) =>
          val v = counts.getOrElse(p, 0L) + dn
          if (v > 0) counts(p) = v else counts -= p
        })
        live.unpersist(blocking = false)
        live = words
      }
    }
    // the final segmentation is consumed by the caller after this
    // returns — the next trainBpe invocation releases its blocks
    Staging.supersedeHandles(s"$dir#bpe_words_$nMerges", Seq(live))
    (rules.result(), words.map(x => (x.w, x.wc, x.syms)).toDF("w", "wc", "syms"))
  }

  /** DuckDB replay of the t55 training loop: 8 unrolled rounds, each
    * recomputing the pair argmax from the previous round's
    * re-segmentation. The re-segmentation fold is `list_reduce` over a
    * chr(31)-delimited accumulator (DuckDB's reduce accumulates the
    * element type, so the symbol list rides as a delimited string and
    * splits back per round) — same greedy left-to-right
    * non-overlapping semantics as the engine's `aggregate` fold.
    */
  private def bpeChain(nMerges: Int): String = {
    val base =
      """WITH w0 AS (
        |  SELECT w, count(*) AS wc FROM (
        |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE w <> '' GROUP BY w),
        |s0 AS (SELECT w, wc,
        |  list_transform(range(length(w)), i -> substr(w, CAST(i + 1 AS INT), 1)) AS syms
        |  FROM w0)""".stripMargin
    val rounds = (1 to nMerges).map { k =>
      s"""p$k AS (SELECT wc, unnest(list_transform(range(1, len(syms)),
         |    i -> struct_pack(l := syms[CAST(i AS INT)], r := syms[CAST(i AS INT) + 1]))) AS p
         |  FROM s${k - 1} WHERE len(syms) >= 2),
         |b$k AS (SELECT p.l AS lhs, p.r AS rhs, CAST(sum(wc) AS BIGINT) AS n
         |  FROM p$k GROUP BY 1, 2 ORDER BY n DESC, lhs, rhs LIMIT 1),
         |s$k AS (SELECT w, wc, string_split(list_reduce(syms, (acc, x) ->
         |    CASE WHEN x = b.rhs AND (acc = b.lhs OR acc LIKE '%' || chr(31) || b.lhs)
         |    THEN acc || x ELSE acc || chr(31) || x END), chr(31)) AS syms
         |  FROM s${k - 1}, b$k b)""".stripMargin
    }.mkString(",\n")
    s"$base,\n$rounds"
  }

  private def t55Oracle(nMerges: Int): String = {
    val out = (1 to nMerges).map { k =>
      s"""SELECT CAST($k AS BIGINT) AS merge_rank, lhs, rhs,
         |  lhs || rhs AS merged, n AS pair_count FROM b$k""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"${bpeChain(nMerges)}\n$out"
  }

  private def t57Oracle(nMerges: Int): String =
    s"""${bpeChain(nMerges)}
       |SELECT d.doc_id, count(*) AS n_words,
       |  CAST(sum(len(s.syms)) AS BIGINT) AS n_bpe_tokens,
       |  CAST(sum(length(d.w)) AS BIGINT) AS n_chars
       |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
       |      FROM documents) d
       |JOIN s$nMerges s ON d.w = s.w
       |WHERE d.w <> ''
       |GROUP BY d.doc_id""".stripMargin

  def oracles: Map[String, String] = Map(
    "t48_line_dedup" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |lines0 AS (
        |  SELECT doc_id, unnest(list_transform(range((len(toks) + 3) // 4),
        |    i -> struct_pack(pos := i,
        |      line := array_to_string(list_slice(toks, i * 4 + 1, i * 4 + 4), ' ')))) AS s
        |  FROM t),
        |lines AS (SELECT doc_id, s.pos AS pos, s.line AS line FROM lines0),
        |ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY line
        |  ORDER BY doc_id, pos) AS rn FROM lines),
        |kept AS (SELECT doc_id, count(*) AS n_kept,
        |  string_agg(line, ' ' ORDER BY pos) AS dedup_text
        |  FROM ranked WHERE rn = 1 GROUP BY doc_id)
        |SELECT t.doc_id, (len(t.toks) + 3) // 4 AS n_chunks,
        |  coalesce(k.n_kept, 0) AS n_kept,
        |  coalesce(k.dedup_text, '') AS dedup_text
        |FROM t LEFT JOIN kept k ON t.doc_id = k.doc_id""".stripMargin,

    "t49_bpe_pair_counts" ->
      """WITH w AS (
        |  SELECT w, count(*) AS wc FROM (
        |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  GROUP BY w),
        |p AS (
        |  SELECT wc, unnest(list_transform(range(1, length(w)),
        |    i -> substr(w, CAST(i AS INT), 2))) AS pair
        |  FROM w WHERE length(w) >= 2)
        |SELECT pair, CAST(sum(wc) AS BIGINT) AS n
        |FROM p GROUP BY pair ORDER BY n DESC, pair LIMIT 50""".stripMargin,

    "t55_bpe_merges" -> t55Oracle(8),
    "t57_bpe_encode" -> t57Oracle(8),

    "t58_url_dedup" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    'https://Site' || (doc_id % 40) || '.Example.COM/p/' || (doc_id % 120)
        |      || CASE doc_id % 3 WHEN 0 THEN '?utm_source=feed'
        |                         WHEN 1 THEN '/' ELSE '' END AS url
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, url,
        |    lower(regexp_replace(regexp_replace(url, '\?utm_[^#]*$', ''),
        |                         '/+$', '')) AS canon_url
        |  FROM u)
        |SELECT doc_id, url, canon_url,
        |  ROW_NUMBER() OVER (PARTITION BY canon_url ORDER BY doc_id) = 1 AS kept,
        |  CAST(count(*) OVER (PARTITION BY canon_url) AS BIGINT) AS n_variants
        |FROM c""".stripMargin,

    "t59_exact_substr_removal" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |occ AS (
        |  SELECT doc_id, i AS pos, array_to_string(toks[CAST(i AS INT):CAST(i + 3 AS INT)], ' ') AS g
        |  FROM t, UNNEST(range(1, len(toks) - 2)) AS u(i)
        |  WHERE len(toks) >= 4),
        |gi AS (SELECT g, count(DISTINCT doc_id) AS nd, min(doc_id) AS fd
        |       FROM occ GROUP BY g),
        |gi2 AS (SELECT gi.g, gi.nd, gi.fd, min(o.pos) AS fp
        |        FROM gi JOIN occ o ON o.g = gi.g AND o.doc_id = gi.fd
        |        GROUP BY gi.g, gi.nd, gi.fd),
        |rem AS (
        |  SELECT DISTINCT o.doc_id, o.pos + k AS p
        |  FROM occ o JOIN gi2 ON o.g = gi2.g, UNNEST(range(0, 4)) AS r(k)
        |  WHERE gi2.nd >= 2 AND NOT (o.doc_id = gi2.fd AND o.pos = gi2.fp)),
        |tok AS (
        |  SELECT doc_id, i AS p, toks[CAST(i AS INT)] AS w
        |  FROM t, UNNEST(range(1, len(toks) + 1)) AS u(i)),
        |kc AS (
        |  SELECT tok.doc_id, count(*) AS n_kept,
        |    string_agg(tok.w, ' ' ORDER BY tok.p) AS cleaned_text
        |  FROM tok LEFT JOIN rem ON tok.doc_id = rem.doc_id AND tok.p = rem.p
        |  WHERE rem.p IS NULL GROUP BY tok.doc_id)
        |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
        |  CAST(len(t.toks) - coalesce(kc.n_kept, 0) AS BIGINT) AS n_removed,
        |  coalesce(kc.cleaned_text, '') AS cleaned_text
        |FROM t LEFT JOIN kc ON t.doc_id = kc.doc_id""".stripMargin,
    "t45_dup_ngram_spans" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    unnest(list_transform(generate_series(1, len(toks) - 3),
        |      i -> substring(md5(array_to_string(toks[i:i+3], ' ')), 1, 16))) AS h
        |  FROM t WHERE len(toks) >= 4
        |), d AS (SELECT h, count(DISTINCT doc_id) AS nd FROM g GROUP BY h)
        |SELECT g.doc_id, count(*) AS n_grams,
        |  CAST(sum(CASE WHEN d.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_grams,
        |  CAST(sum(CASE WHEN d.nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS dup_frac
        |FROM g JOIN d USING (h)
        |GROUP BY g.doc_id""".stripMargin,

    "t46_sequence_packing" ->
      """WITH t AS (
        |  SELECT source, doc_id, len(string_split(text, ' ')) AS n_tok
        |  FROM documents
        |), c AS (
        |  SELECT *, sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
        |    ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t
        |), s AS (SELECT *,
        |  CAST((cum - n_tok) // 256 AS BIGINT) AS seq_id FROM c)
        |SELECT source, seq_id, count(*) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS seq_tokens,
        |  CAST(min(doc_id) AS BIGINT) AS first_doc,
        |  CAST(max(doc_id) AS BIGINT) AS last_doc,
        |  CAST(round(sum(n_tok) * 1000000.0 / 256) AS BIGINT) AS fill_ratio_ppm
        |FROM s GROUP BY source, seq_id""".stripMargin,

    "t47_blocklist_filter" ->
      """SELECT doc_id, source,
        |  len(list_filter(string_split(text, ' '),
        |      t -> t IN ('slow', 'dup'))) AS n_blocked_tokens,
        |  len(list_filter(string_split(text, ' '),
        |      t -> t IN ('slow', 'dup'))) > 0 AS blocked
        |FROM documents""".stripMargin
  )
}
