package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-5 additions to the training-data curation surface: PII
  * redaction (the scrubbing pass corpora like Dolma/FineWeb run before
  * release), BM25 relevance scoring (distributed tf/df — the retrieval
  * primitive behind quality-classifier seed sets), and DSIR-style
  * hashed-n-gram importance weights (Xie et al. 2023, "Data Selection
  * for Language Models via Importance Resampling") for
  * target-distribution data selection.
  *
  * Regex discipline is t39's: patterns stay inside the RE2 ∩
  * java.util.regex common subset so the DuckDB oracle executes the
  * SAME pattern text — no backrefs, no lookaround, no possessive
  * quantifiers.
  */
object TextOps3 extends QueryModule {

  private val tokens: Column = split(col("text"), " ")

  // PII patterns — RE2 ∩ java.util.regex safe.
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  private val PhoneRe = "\\b555-\\d{4}\\b"

  /** The synthetic corpus carries no real PII, so the query plants
    * deterministic PII derived from doc_id (same arithmetic in the
    * oracle) — the detection/redaction path is then actually
    * exercised on every row rather than counting zeros.
    */
  private def enriched: Column =
    concat(col("text"),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@example.com ip 10."), (col("doc_id") % 256).cast("string"),
      lit("."), (col("doc_id") % 100).cast("string"),
      lit(".7 phone 555-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"))

  // BM25 constants (the standard Robertson defaults).
  private val K1 = 1.2
  private val B = 0.75
  private val QueryTerms = Seq("spark", "join", "merge")

  def declared: Seq[Query] = Seq(
    // ---- PII detection + redaction ------------------------------------
    // Entirely map-side: three codegen'd regex counts and a chained
    // regexp_replace per row — zero shuffles at any corpus size. At
    // 100 TB this is the cheapest pass in the pipeline (pure scan
    // throughput); the regexes are pre-compiled once per task by
    // Spark's regexp expressions.
    Query("t50_pii_redaction",
      s"""WITH e AS (
        |  SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR)
        |      || '@example.com ip 10.' || CAST(doc_id % 256 AS VARCHAR)
        |      || '.' || CAST(doc_id % 100 AS VARCHAR)
        |      || '.7 phone 555-'
        |      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS et
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(et, '$EmailRe')) AS n_email,
        |  len(regexp_extract_all(et, '$Ipv4Re')) AS n_ip,
        |  len(regexp_extract_all(et, '$PhoneRe')) AS n_phone,
        |  regexp_replace(regexp_replace(regexp_replace(et,
        |    '$EmailRe', '<EMAIL>', 'g'),
        |    '$Ipv4Re', '<IP>', 'g'),
        |    '$PhoneRe', '<PHONE>', 'g') AS redacted
        |FROM e""".stripMargin) { (s, dir) =>
      val d = Tables.load(s, dir, "documents")
      d.select(col("doc_id"), enriched.as("et"))
        .select(col("doc_id"),
          regexp_count(col("et"), lit(EmailRe)).as("n_email"),
          regexp_count(col("et"), lit(Ipv4Re)).as("n_ip"),
          regexp_count(col("et"), lit(PhoneRe)).as("n_phone"),
          regexp_replace(
            regexp_replace(
              regexp_replace(col("et"), EmailRe, "<EMAIL>"),
              Ipv4Re, "<IP>"),
            PhoneRe, "<PHONE>").as("redacted"))
    },

    // ---- BM25 scoring against a fixed query ---------------------------
    // Scale shape: the term filter lands BEFORE the tf shuffle, so
    // only query-term occurrences (a vanishing fraction of the corpus)
    // ever leave the scan stage; df and the corpus stats are
    // broadcast back (df has |query| rows, stats has 1). The only
    // data-scale shuffle keys on doc_id for the final per-doc sum.
    Query("t51_bm25",
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |dl AS (SELECT doc_id, len(toks) AS dl FROM t),
        |st AS (SELECT avg(dl) AS avgdl, count(*) AS n_docs FROM dl),
        |tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(toks) AS term FROM t)
        |  WHERE term IN (${QueryTerms.map("'" + _ + "'").mkString(", ")})
        |  GROUP BY doc_id, term),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
        |SELECT tf.doc_id,
        |  sum(ln((st.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
        |      * (tf.tf * ${K1 + 1.0})
        |      / (tf.tf + $K1 * (1.0 - $B + $B * dl.dl / st.avgdl))) AS bm25,
        |  count(*) AS n_matched
        |FROM tf JOIN df USING (term) JOIN dl ON tf.doc_id = dl.doc_id, st
        |GROUP BY tf.doc_id""".stripMargin) { (s, dir) =>
      val d = Tables.load(s, dir, "documents")
        .select(col("doc_id"), tokens.as("toks"))
      val dl = d.select(col("doc_id"), size(col("toks")).as("dl"))
      val stats = dl.agg(avg(col("dl")).as("avgdl"),
        count(lit(1)).as("n_docs"))
      val tf = d.select(col("doc_id"), explode(col("toks")).as("term"))
        .filter(col("term").isin(QueryTerms: _*))
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      // df as a window count over tf (tf is unique per (doc, term), so
      // count(*) per term = document frequency). A groupBy-join would
      // DOUBLE-PLAN the whole scan→explode→filter→agg chain (the ps
      // lesson: exchange reuse does not collapse it) — the window runs
      // over the already-tiny tf table instead of re-reading the corpus.
      val withDf = tf.withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("term"))))
      withDf
        .join(dl, "doc_id")
        .crossJoin(broadcast(stats))
        .withColumn("idf",
          log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
        .withColumn("score_t",
          col("idf") * (col("tf") * (K1 + 1.0)) /
            (col("tf") + lit(K1) * (lit(1.0 - B) + lit(B) * col("dl") / col("avgdl"))))
        .groupBy(col("doc_id"))
        .agg(sum(col("score_t")).as("bm25"),
          count(lit(1)).as("n_matched"))
    },

    // ---- DSIR hashed-n-gram importance weights ------------------------
    // Features: word unigrams + bigrams hashed into 4096 buckets (3
    // hex chars of md5 — the same cross-engine hash trick as t45).
    // Target distribution = lang='en' docs, raw = whole corpus; a
    // bucket's weight is the smoothed log-likelihood ratio
    // ln p̂_target(b) − ln p̂_raw(b), and a document's importance is
    // its mean bucket weight — Xie et al.'s hashed n-gram LM ratio.
    // Scale shape: the weight table is FIXED SIZE (4096 rows) however
    // big the corpus is, so it joins back as a broadcast; the corpus
    // only flows through a bucket-keyed agg (bounded cardinality) and
    // one doc_id-keyed agg. No data-scale join edges.
    Query("t52_dsir_weights",
      """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
        |g0 AS (
        |  SELECT doc_id, lang, unnest(
        |    list_concat(toks,
        |      CASE WHEN len(toks) >= 2 THEN
        |        list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
        |      ELSE CAST([] AS VARCHAR[]) END)) AS g
        |  FROM t),
        |g AS (SELECT doc_id, lang, substring(md5(g), 1, 3) AS bucket FROM g0),
        |c AS (SELECT bucket, count(*) AS raw_cnt,
        |        sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS tgt_cnt
        |      FROM g GROUP BY bucket),
        |tot AS (SELECT sum(raw_cnt) AS raw_tot, sum(tgt_cnt) AS tgt_tot FROM c),
        |w AS (SELECT bucket,
        |        ln((tgt_cnt + 0.5) / (tgt_tot + 0.5 * 4096))
        |          - ln((raw_cnt + 0.5) / (raw_tot + 0.5 * 4096)) AS w
        |      FROM c, tot)
        |SELECT g.doc_id, count(*) AS n_grams, avg(w.w) AS importance
        |FROM g JOIN w USING (bucket)
        |GROUP BY g.doc_id""".stripMargin) { (s, dir) =>
      val nBuckets = 4096
      val alpha = 0.5
      val d = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"), tokens.as("toks"))
      val grams = d.select(col("doc_id"), col("lang"),
          explode(concat(col("toks"),
            when(size(col("toks")) >= 2,
              transform(sequence(lit(1), size(col("toks")) - 1),
                i => concat_ws(" ", element_at(col("toks"), i),
                  element_at(col("toks"), i + 1))))
              .otherwise(array().cast("array<string>")))).as("g"))
        .select(col("doc_id"), col("lang"),
          substring(md5(col("g")), 1, 3).as("bucket"))
      // ONE corpus pass (r21): the explode+md5 gram derivation used to
      // run TWICE — once under the bucket-count agg and once under the
      // final per-doc join — because Spark plans each reference
      // independently. Aggregate to (doc, bucket) counts first and
      // localCheckpoint that small frame (≤ |docs|·4096 rows, gram
      // multiplicity collapsed): bucket totals re-aggregate from it
      // exactly (integer sums), and the per-doc importance is the
      // n-weighted bucket-weight mean — the same Σw/N over the same
      // multiset of grams.
      val perDoc = Staging.checkpointSuperseding(s"$dir#t52_perdoc",
        grams.groupBy(col("doc_id"), col("lang"), col("bucket"))
          .agg(count(lit(1)).as("n")))
      val counts = perDoc.groupBy(col("bucket"))
        .agg(sum(col("n")).as("raw_cnt"),
          sum(when(col("lang") === "en", col("n")).otherwise(0L)).as("tgt_cnt"))
      val totals = counts.agg(sum(col("raw_cnt")).as("raw_tot"),
        sum(col("tgt_cnt")).as("tgt_tot"))
      val weights = counts.crossJoin(broadcast(totals))
        .withColumn("w",
          log((col("tgt_cnt") + alpha) / (col("tgt_tot") + alpha * nBuckets)) -
            log((col("raw_cnt") + alpha) / (col("raw_tot") + alpha * nBuckets)))
        .select(col("bucket"), col("w"))
      perDoc.join(broadcast(weights), "bucket")
        .groupBy(col("doc_id"))
        .agg(sum(col("n")).as("n_grams"),
          (sum(col("w") * col("n")) / sum(col("n")).cast("double")).as("importance"))
    },

    // ---- Gopher quality rules (Rae et al. 2021, Appendix A) -----------
    // The full rule battery every modern corpus pass applies (Gopher,
    // then MassiveText/FineWeb/Dolma variants): word-count bounds,
    // mean-word-length bounds, symbol-to-word ratio, bullet/ellipsis
    // line fractions, alphabetic-word fraction, stopword floor.
    // Entirely map-side (one codegen'd projection; the lambda filters
    // run inside whole-stage codegen) — zero shuffles at any corpus
    // size. Two thresholds are fixture-scaled so `passes` carries
    // signal on the short synthetic docs (10-99 words, vocabulary with
    // one natural stopword): word-count floor 25 (Gopher: 50) and
    // stopword floor 1 (Gopher: 2). Everything else is the paper's
    // constant.
    Query("t53_gopher_rules",
      """WITH t AS (
        |  SELECT doc_id, text, string_split(text, ' ') AS toks,
        |         string_split(text, chr(10)) AS lines,
        |         len(string_split(text, ' ')) AS n_words
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, n_words,
        |    CAST(list_aggregate(list_transform(toks, w -> length(w)), 'sum')
        |         AS DOUBLE) / n_words AS mean_word_len,
        |    CAST(length(text) - length(replace(text, '#', ''))
        |         + (length(text) - length(replace(text, '...', ''))) // 3
        |         AS DOUBLE) / n_words AS symbol_ratio,
        |    CAST(len(list_filter(lines, l -> l LIKE '- %' OR l LIKE '* %'))
        |         AS DOUBLE) / len(lines) AS bullet_line_frac,
        |    CAST(len(list_filter(lines, l -> l LIKE '%...'))
        |         AS DOUBLE) / len(lines) AS ellipsis_line_frac,
        |    CAST(len(list_filter(toks, w -> regexp_matches(w, '[A-Za-z]')))
        |         AS DOUBLE) / n_words AS alpha_word_frac,
        |    len(list_filter(['the','be','to','of','and','that','have','with'],
        |        s -> list_contains(toks, s))) AS n_stopwords
        |  FROM t)
        |SELECT *,
        |  (n_words BETWEEN 25 AND 100000 AND mean_word_len BETWEEN 3.0 AND 10.0
        |   AND symbol_ratio <= 0.1 AND bullet_line_frac <= 0.9
        |   AND ellipsis_line_frac <= 0.3 AND alpha_word_frac >= 0.8
        |   AND n_stopwords >= 1) AS passes
        |FROM m""".stripMargin) { (s, dir) =>
      val stop = Seq("the", "be", "to", "of", "and", "that", "have", "with")
      val d = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("text"), tokens.as("toks"),
          split(col("text"), "\n").as("lines"))
        .withColumn("n_words", size(col("toks")))
      d.select(col("doc_id"), col("n_words"),
          (aggregate(transform(col("toks"), w => length(w)), lit(0),
            (acc, x) => acc + x).cast("double") / col("n_words"))
            .as("mean_word_len"),
          ((length(col("text")) - length(regexp_replace(col("text"), "#", ""))
            + (length(col("text")) -
               length(regexp_replace(col("text"), "\\.\\.\\.", ""))) / 3)
            .cast("double") / col("n_words")).as("symbol_ratio"),
          (size(filter(col("lines"), l => l.startsWith("- ") ||
              l.startsWith("* "))).cast("double") / size(col("lines")))
            .as("bullet_line_frac"),
          (size(filter(col("lines"), l => l.endsWith("...")))
            .cast("double") / size(col("lines"))).as("ellipsis_line_frac"),
          (size(filter(col("toks"), w => w.rlike("[A-Za-z]")))
            .cast("double") / col("n_words")).as("alpha_word_frac"),
          size(filter(
            array(stop.map(lit): _*), sw => array_contains(col("toks"), sw)))
            .as("n_stopwords"))
        .withColumn("passes",
          col("n_words").between(25, 100000) &&
            col("mean_word_len").between(3.0, 10.0) &&
            col("symbol_ratio") <= 0.1 &&
            col("bullet_line_frac") <= 0.9 &&
            col("ellipsis_line_frac") <= 0.3 &&
            col("alpha_word_frac") >= 0.8 &&
            col("n_stopwords") >= 1)
    },

    // ---- Count-min-sketch heavy hitters -------------------------------
    // The third sketch next to HLL (q63) and approx-percentiles (q71):
    // corpus-wide frequent-token estimation through a FIXED-SIZE
    // mergeable structure (Cormode & Muthukrishnan 2005). d=4 hash
    // rows × w=4096 buckets (md5-prefix hashing, the cross-engine
    // trick): the corpus flows through ONE (row,bucket)-keyed agg with
    // cardinality ≤ d·w whatever the data size — map-side partial
    // counts do the heavy lifting — and the 16k-row sketch broadcasts
    // back to score candidates. est(token) = min over rows of its
    // bucket count, which can only OVERestimate (spec-gated). At
    // 100 TB you materialize the sketch once and probe it for any key
    // without touching the corpus again.
    Query("t54_heavy_hitters",
      """WITH toks AS (
        |  SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |hashed AS (
        |  SELECT token, r AS hrow,
        |    substring(md5(CAST(r AS VARCHAR) || ':' || token), 1, 3) AS bucket
        |  FROM toks, range(0, 4) t(r)),
        |sketch AS (SELECT hrow, bucket, count(*) AS cnt
        |           FROM hashed GROUP BY hrow, bucket),
        |cand AS (SELECT DISTINCT token, hrow, bucket FROM hashed),
        |est AS (SELECT token, min(cnt) AS est
        |        FROM cand JOIN sketch USING (hrow, bucket) GROUP BY token)
        |SELECT token, est FROM est ORDER BY est DESC, token LIMIT 50""".stripMargin) { (s, dir) =>
      val dRows = 4
      val d = Tables.load(s, dir, "documents")
      val toks = d.select(explode(tokens).as("token"))
      // ONE corpus pass (r21): collapse the raw token stream into the
      // Zipf-bounded (token, count) table FIRST — one token-keyed
      // shuffle with map-side combine — and checkpoint it; the sketch's
      // per-bucket count is the sum of its tokens' counts (identical
      // integers to counting raw probe rows), and the candidate probes
      // expand off the SAME vocab table. The old shape md5'd the corpus
      // ×4 for the sketch AND shuffled the corpus a second time for
      // distinct(); now md5 runs over 4×|vocab| rows total.
      val vocab = Staging.checkpointSuperseding(s"$dir#t54_vocab",
        toks.groupBy(col("token")).agg(count(lit(1)).as("tok_cnt")))
      val vprobes = vocab.select(col("token"), col("tok_cnt"),
          explode(expr(s"transform(sequence(0, ${dRows - 1}), " +
            "r -> struct(r AS hrow, substring(md5(concat(r, ':', token)), 1, 3) AS bucket))")).as("rb"))
        .select(col("token"), col("tok_cnt"), col("rb.hrow"), col("rb.bucket"))
      val sketch = vprobes.groupBy(col("hrow"), col("bucket"))
        .agg(sum(col("tok_cnt")).as("cnt"))
      val est = vprobes
        .join(broadcast(sketch), Seq("hrow", "bucket"))
        .groupBy(col("token"))
        .agg(min(col("cnt")).as("est"))
      est.orderBy(col("est").desc, col("token")).limit(50)
    },

    // ---- CCNet-style n-gram LM perplexity filter ----------------------
    // (Wenzek et al. 2020 "CCNet": score web documents by the
    // perplexity of a small LM trained on target-domain text; keep the
    // low-perplexity head.) A bigram add-α LM is trained on the
    // lang='en' slice, then every document is scored by its mean
    // per-pair log-probability. Scale shape (the t51/t52 discipline):
    // the LM is VOCAB-bounded, not corpus-bounded — unigram/bigram
    // count tables come from one explode+agg over the target slice and
    // broadcast back onto the corpus pair stream; scoring is one
    // corpus explode, two broadcast joins, one doc_id regroup. At
    // 100 TB the LM tables are still Zipf-small (the reference
    // pipeline ships KenLM files to every worker — same shape).
    // log determinism: Spark log ≡ java Math.log vs DuckDB ln agree
    // within 1e-9 rounding at these magnitudes (t52 precedent).
    Query("t56_lm_perplexity",
      """WITH t AS (
        |  SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2),
        |p0 AS (
        |  SELECT doc_id, lang, unnest(list_transform(range(1, len(toks)),
        |    i -> struct_pack(w1 := toks[CAST(i AS INT)],
        |                     w2 := toks[CAST(i AS INT) + 1]))) AS p
        |  FROM t),
        |p AS (SELECT doc_id, lang, p.w1 AS w1, p.w2 AS w2 FROM p0),
        |tgt AS (SELECT w1, w2 FROM p WHERE lang = 'en'),
        |uni AS (SELECT w1, count(*) AS c1 FROM tgt GROUP BY w1),
        |bi AS (SELECT w1, w2, count(*) AS c2 FROM tgt GROUP BY w1, w2),
        |v AS (SELECT count(DISTINCT w1) AS v FROM tgt),
        |lp AS (
        |  SELECT p.doc_id,
        |    ln((coalesce(bi.c2, 0) + 0.5) /
        |       (coalesce(uni.c1, 0) + 0.5 * (v.v + 1))) AS lp
        |  FROM p
        |  LEFT JOIN bi ON p.w1 = bi.w1 AND p.w2 = bi.w2
        |  LEFT JOIN uni ON p.w1 = uni.w1
        |  CROSS JOIN v)
        |SELECT doc_id, count(*) AS n_pairs, avg(lp) AS avg_logprob,
        |  -avg(lp) AS cross_entropy, -avg(lp) < 7.0 AS keep
        |FROM lp GROUP BY doc_id""".stripMargin) { (s, dir) =>
      val alpha = 0.5
      val d = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"), tokens.as("toks"))
        .filter(size(col("toks")) >= 2)
      val pairs = d.select(col("doc_id"), col("lang"), explode(expr(
          "transform(sequence(1, size(toks) - 1), " +
            "i -> struct(element_at(toks, i) AS w1, element_at(toks, i + 1) AS w2))")).as("p"))
        .select(col("doc_id"), col("lang"), col("p.w1"), col("p.w2"))
      val target = pairs.filter(col("lang") === "en")
      // ONE corpus explode builds the whole LM: unigram context counts
      // are per-w1 sums of the bigram table (identical by construction)
      // and the context-vocab size is its distinct-w1 row count, so
      // both derive from the vocab²-bounded bi table — checkpointed so
      // Catalyst cannot re-plan (and re-scan the corpus for) each
      // derived subtree (the t51 double-plan lesson).
      val bi = Staging.checkpointSuperseding(s"$dir#t56_bi",
        target.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2")))
      val uni = bi.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
      val vocab = uni.agg(count(lit(1)).as("v")) // context vocabulary size
      pairs
        .join(broadcast(bi), Seq("w1", "w2"), "left")
        .join(broadcast(uni), Seq("w1"), "left")
        .crossJoin(broadcast(vocab))
        .withColumn("lp",
          log((coalesce(col("c2"), lit(0L)) + alpha) /
            (coalesce(col("c1"), lit(0L)) + (col("v") + 1) * alpha)))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_pairs"),
          avg(col("lp")).as("avg_logprob"))
        .withColumn("cross_entropy", -col("avg_logprob"))
        .withColumn("keep", col("cross_entropy") < 7.0)
    },

    // ---- Output sharding + per-shard manifest -------------------------
    // The write-out step of a training-data pipeline: every document is
    // assigned to one of 16 shards by a salted content-independent
    // hash (so shards are balanced and assignment is reproducible),
    // and the per-shard MANIFEST rows (doc/token/char totals, doc-id
    // range) are what the training job reads to plan its input splits.
    // Scale: one map-side hash + one 16-key agg with map-side partials;
    // in production the same frame is `write.partitionBy(shard)` and
    // the manifest is the bookkeeping table. All-integer surface.
    Query("t60_shard_manifest",
      """WITH t AS (
        |  SELECT CAST(('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 4))
        |           AS BIGINT) % 16 AS shard,
        |    doc_id, len(string_split(text, ' ')) AS n_tok,
        |    length(text) AS n_chars
        |  FROM documents)
        |SELECT shard, count(*) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS total_tokens,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  CAST(min(doc_id) AS BIGINT) AS min_doc,
        |  CAST(max(doc_id) AS BIGINT) AS max_doc
        |FROM t GROUP BY shard""".stripMargin) { (s, dir) =>
      val nShards = 16
      val d = Tables.load(s, dir, "documents")
      val shard = (conv(substring(
          md5(concat(lit("shard:"), col("doc_id").cast("string"))), 1, 4),
        16, 10).cast("long") % nShards).as("shard")
      d.select(shard, col("doc_id"), size(tokens).cast("long").as("n_tok"),
          length(col("text")).cast("long").as("n_chars"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("total_tokens"),
          sum(col("n_chars")).as("total_chars"),
          min(col("doc_id")).as("min_doc"),
          max(col("doc_id")).as("max_doc"))
    },

    // ---- Token-budget mixture selection -------------------------------
    // "Build me a 20k-token training mix at these source weights" — the
    // data-mixture step every pretraining run starts with (cf. The
    // Pile / Dolma mixture tables): per-source token quotas from the
    // weight vector, then each source contributes its docs in
    // deterministic doc_id order until its quota is crossed (the last
    // doc may overshoot — t46's packing convention). Scale: quota
    // arithmetic is a literal; selection is ONE windowed cumsum per
    // source partition (source cardinality = mixture size, each
    // partition's scan is sequential exactly like the file order a
    // real packer reads); all-integer surface.
    Query("t61_token_budget_mix",
      """WITH t AS (
        |  SELECT source, doc_id, len(string_split(text, ' ')) AS n_tok,
        |    (CASE source WHEN 'src0' THEN 4 WHEN 'src1' THEN 2
        |                 WHEN 'src2' THEN 1 WHEN 'src3' THEN 1
        |                 WHEN 'src4' THEN 1 WHEN 'src5' THEN 1
        |                 ELSE 0 END) * 3000 // 10 AS quota
        |  FROM documents),
        |c AS (SELECT *, sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
        |        ROWS UNBOUNDED PRECEDING) AS cum FROM t)
        |SELECT source, count(*) AS n_docs_sel,
        |  CAST(sum(n_tok) AS BIGINT) AS tokens_sel,
        |  CAST(min(quota) AS BIGINT) AS quota
        |FROM c WHERE cum - n_tok < quota GROUP BY source""".stripMargin) { (s, dir) =>
      val budget = 3000L
      val d = Tables.load(s, dir, "documents")
      val weights = Seq("src0" -> 4L, "src1" -> 2L, "src2" -> 1L,
        "src3" -> 1L, "src4" -> 1L, "src5" -> 1L)
      val wSum = weights.map(_._2).sum
      // Scala-side long arithmetic: Column./ is double division
      val quota = weights.foldLeft(lit(0L)) { case (acc, (k, v)) =>
        when(col("source") === k, lit(v * budget / wSum)).otherwise(acc) }
        .as("quota")
      val wnd = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      d.select(col("source"), col("doc_id"),
          size(tokens).cast("long").as("n_tok"), quota)
        .withColumn("cum", sum(col("n_tok")).over(wnd))
        .filter(col("cum") - col("n_tok") < col("quota"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs_sel"),
          sum(col("n_tok")).as("tokens_sel"),
          first(col("quota")).as("quota"))
    }
  )
}
