package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-level curation operators an LLM-data pipeline needs beyond the
  * per-document scans in [[TextOps]]: boilerplate detection (corpus-wide
  * n-gram document frequency), PII detection/redaction, and statistical
  * quality scoring under a corpus-trained bigram LM.
  *
  * Scale notes:
  *  - `boilerplate_ngrams` is one explode + one map-side-combined
  *    groupBy; the result set is bounded (TakeOrdered top-k), never a
  *    global sort. The shuffle carries (shingle, partial df) pairs —
  *    at 100 TB the distinct-shingle domain is what it is, but partial
  *    aggregation collapses per-partition duplicates before the wire.
  *  - `pii_redact` is a pure per-row codegen'd scan (regexp detect +
  *    replace), zero shuffles. The corpus has no natural PII, so spans
  *    are SYNTHESIZED deterministically in-plan (the validate_chunks /
  *    multimodal perturb-then-process pattern) and the oracle replays
  *    the same synthesis — redaction equality is pinned by md5 of the
  *    redacted text, not just by match counts.
  *  - `lm_bigram_score` trains the LM as ONE aggregation over the
  *    training split (bigram counts; the w1 marginal derives from the
  *    bigram table itself) and scores via a shuffle join of document
  *    bigram occurrences against the ratio table — the inverted-index
  *    join shape (E18b), not a broadcast of an unbounded vocabulary.
  *    Scores are integer-quantized ((10^6·c12) div c1) so both engines
  *    agree bit-for-bit with no ln() ulp hazard (the E20 idf contract).
  */
object Corpus {

  /** Word 3-grams of `w` (array col), empty when <3 words. Runs the
    * codegen'd [[graft.functions.WordNgrams]] kernel — the HOF spelling
    * (transform over a sequence) evaluates interpreted and was the
    * measured sleeper cost of the corpus keys (SURVEY §8d).
    */
  private def trigrams(w: Column): Column =
    graft.functions.WordNgrams.wordNgrams(w, 3)

  // ------------------------------------------------------------- E23

  /** E23: corpus-level boilerplate detection — the word-3-gram shingles
    * shared by the most documents (template headers/footers, license
    * blurbs, nav text in a real crawl). Per-doc DISTINCT shingles →
    * document frequency → top-15 by (df desc, shingle asc). The same
    * df table, kept above a threshold instead of top-k'd, is the
    * removal list a C4-style cleaner would anti-join against.
    */
  def boilerplateNgrams(spark: SparkSession, dir: String, k: Int = 15): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(array_distinct(trigrams(split(col("text"), " "))))
        .as("shingle"))
      .groupBy("shingle").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("shingle").asc)
      .limit(k)

  def boilerplateNgramsOracleSql: String =
    """WITH words AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |grams AS (
      |  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
      |  FROM words, UNNEST(range(1, len(w)-1)) AS t(i)),
      |df AS (SELECT shingle, CAST(count(*) AS BIGINT) AS df FROM grams GROUP BY 1)
      |SELECT shingle, df FROM df ORDER BY df DESC, shingle ASC LIMIT 15""".stripMargin

  // ------------------------------------------------------------- E24

  private val EmailPat = "[a-z0-9]+@[a-z0-9]+\\.[a-z]+"
  private val Ipv4Pat  = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
  private val PhonePat = "\\+1-555-[0-9]{4}"

  /** Deterministic PII seeding: doc_id-keyed email/IP/phone spans
    * appended to the (PII-free) synthetic text, so detection has known
    * ground truth at every SF. Shared by the Spark plan and the oracle.
    */
  private def seededText: Column = {
    val id = col("doc_id")
    concat(
      col("text"),
      when(id % 3 === 0,
        concat(lit(" contact user"), id.cast("string"),
          lit("@mail"), (id % 10).cast("string"), lit(".com now")))
        .otherwise(lit("")),
      when(id % 4 === 0,
        concat(lit(" host 10."), (id % 256).cast("string"), lit("."),
          ((id * 7) % 256).cast("string"), lit("."),
          ((id * 13) % 256).cast("string"), lit(" up")))
        .otherwise(lit("")),
      when(id % 5 === 0,
        concat(lit(" call +1-555-"),
          lpad((id % 10000).cast("string"), 4, "0"), lit(" today")))
        .otherwise(lit("")))
  }

  /** E24: PII detection + redaction over the seeded corpus: per-type
    * match counts and the md5 of the text after replacing every span
    * (email → ip → phone, in that fixed order) with a type tag. Rows
    * with no PII are dropped (the report view); the redacted text
    * itself would flow on in a real pipeline. Pure codegen'd scan.
    */
  def piiRedact(spark: SparkSession, dir: String): DataFrame = {
    val t = seededText
    val redacted = regexp_replace(
      regexp_replace(
        regexp_replace(t, EmailPat, "<EMAIL>"),
        Ipv4Pat, "<IP>"),
      PhonePat, "<PHONE>")
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        size(regexp_extract_all(t, lit(EmailPat), lit(0))).cast("long").as("n_email"),
        size(regexp_extract_all(t, lit(Ipv4Pat), lit(0))).cast("long").as("n_ip"),
        size(regexp_extract_all(t, lit(PhonePat), lit(0))).cast("long").as("n_phone"),
        md5(redacted).as("redacted_md5"))
      .filter(col("n_email") + col("n_ip") + col("n_phone") > 0)
      .orderBy("doc_id")
  }

  def piiRedactOracleSql: String =
    """WITH seeded AS (
      |  SELECT doc_id, source,
      |    text
      |    || CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR)
      |         || '@mail' || CAST(doc_id % 10 AS VARCHAR) || '.com now' ELSE '' END
      |    || CASE WHEN doc_id % 4 = 0 THEN ' host 10.' || CAST(doc_id % 256 AS VARCHAR)
      |         || '.' || CAST((doc_id * 7) % 256 AS VARCHAR)
      |         || '.' || CAST((doc_id * 13) % 256 AS VARCHAR) || ' up' ELSE '' END
      |    || CASE WHEN doc_id % 5 = 0 THEN ' call +1-555-'
      |         || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' today' ELSE '' END
      |    AS text
      |  FROM documents),
      |det AS (
      |  SELECT doc_id, source,
      |    CAST(len(regexp_extract_all(text, '[a-z0-9]+@[a-z0-9]+\.[a-z]+')) AS BIGINT) AS n_email,
      |    CAST(len(regexp_extract_all(text, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS BIGINT) AS n_ip,
      |    CAST(len(regexp_extract_all(text, '\+1-555-[0-9]{4}')) AS BIGINT) AS n_phone,
      |    md5(regexp_replace(regexp_replace(regexp_replace(text,
      |      '[a-z0-9]+@[a-z0-9]+\.[a-z]+', '<EMAIL>', 'g'),
      |      '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g'),
      |      '\+1-555-[0-9]{4}', '<PHONE>', 'g')) AS redacted_md5
      |  FROM seeded)
      |SELECT * FROM det
      |WHERE n_email + n_ip + n_phone > 0
      |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------- E25

  /** E25: statistical quality scoring under a corpus-trained bigram LM —
    * the perplexity-bucket filter of a pretraining pipeline, with the
    * LM trained on the corpus itself minus the held-out source `src0`
    * (so src0 docs are scored under a model that never saw them).
    * familiarity = Σ over the doc's bigram OCCURRENCES of
    * (10^6·c12(w1,w2)) div c1(w1), unseen bigrams contributing 0;
    * c1 is the w1-marginal of the bigram table. Integer end-to-end.
    *
    * Shape: train = one explode + map-side-combined count; marginal =
    * second small aggregate over the LM table itself (never re-reads
    * the corpus); scoring = shuffle join of (doc_id, bigram) against
    * the ratio table on the bigram key — both sides partition by the
    * join key, no vocabulary broadcast, no ln().
    */
  def lmBigramScore(spark: SparkSession, dir: String, heldOut: String = "src0"): DataFrame = {
    val docs = Tables.documents(spark, dir)
    def bigramsOf(df: DataFrame): DataFrame =
      df.select(col("doc_id"), col("source"),
        explode(graft.functions.WordNgrams.wordNgrams(split(col("text"), " "), 2))
          .as("bg"))
    val all = bigramsOf(docs)
    val lm = all.filter(col("source") =!= heldOut)
      .groupBy("bg").agg(count(lit(1)).as("c12"))
    val marg = lm
      .groupBy(split(col("bg"), " ").getItem(0).as("w1"))
      .agg(sum(col("c12")).as("c1"))
    val ratio = lm
      .join(marg, split(lm("bg"), " ").getItem(0) === marg("w1"))
      .select(col("bg"), expr("(1000000 * c12) div c1").as("r"))
    all.join(ratio, Seq("bg"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        count(col("r")).as("n_seen"),
        coalesce(sum(col("r")), lit(0L)).as("familiarity"))
      .orderBy("doc_id")
  }

  // ------------------------------------------------------------- E26

  /** E26: corpus-wide span-level exact dedup (the fine-grained C4-style
    * pass: exact dedup at paragraph granularity, here fixed 10-word
    * spans since the synthetic corpus has no sentence boundaries).
    * Every distinct span keeps only its FIRST occurrence — ordered by
    * (doc_id, span_idx), integer-encoded as doc_id·2²⁰+span_idx so the
    * arg-min is one `min` aggregate — and each document is reassembled
    * from its surviving spans in order. Output pins the cleaned text by
    * md5 plus kept/total span counts.
    *
    * Shape: one explode → groupBy(span) arg-min (map-side combined) →
    * join back on the span key (both sides partition by span — no
    * broadcast of an unbounded span table) → groupBy(doc_id) ordered
    * reassembly. Two key-partitioned shuffles, no global sort, no
    * driver materialization; at 100 TB the span table shards like any
    * dedup key space.
    */
  def dedupSpans(spark: SparkSession, dir: String, spanWords: Int = 10): DataFrame = {
    val w = split(col("text"), " ")
    val nSpans = floor((size(w) + lit(spanWords - 1)).cast("long") / lit(spanWords)).cast("int")
    val spans = Tables.documents(spark, dir)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), nSpans - 1),
          i => concat_ws(" ", slice(w, i * spanWords + 1, lit(spanWords)))))
          .as(Seq("span_idx", "span")))
    val key = col("doc_id") * 1048576L + col("span_idx")
    val firsts = spans.groupBy("span").agg(min(key).as("first_key"))
    spans.join(firsts, "span")
      .select(col("doc_id"), col("span_idx"), col("span"),
        (key === col("first_key")).as("kept"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        count(when(col("kept"), 1)).as("n_kept"),
        md5(concat_ws(" ",
          transform(
            sort_array(collect_list(when(col("kept"),
              struct(col("span_idx"), col("span"))))),
            x => x.getField("span")))).as("clean_md5"))
      .orderBy("doc_id")
  }

  def dedupSpansOracleSql: String =
    """WITH words AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |spans AS (
      |  SELECT doc_id, i AS span_idx,
      |    array_to_string(w[(10*i+1):(10*i+10)], ' ') AS span
      |  FROM words, UNNEST(range(0, (len(w)+9)//10)) AS t(i)),
      |firsts AS (
      |  SELECT span, min(doc_id*1048576 + span_idx) AS first_key
      |  FROM spans GROUP BY 1)
      |SELECT s.doc_id,
      |  CAST(count(*) AS BIGINT) AS n_spans,
      |  CAST(count(CASE WHEN s.doc_id*1048576 + s.span_idx = f.first_key
      |    THEN 1 END) AS BIGINT) AS n_kept,
      |  md5(coalesce(string_agg(
      |    CASE WHEN s.doc_id*1048576 + s.span_idx = f.first_key
      |      THEN s.span END, ' ' ORDER BY s.span_idx), '')) AS clean_md5
      |FROM spans s JOIN firsts f USING (span)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------ E26b

  /** E26b: SLIDING-window span dedup — exact substring dedup in the
    * Lee et al. 2021 ("Deduplicating Training Data Makes Language
    * Models Better") sense, re-expressed for Spark. E26's fixed
    * 10-word blocks miss any duplicated passage that straddles a block
    * boundary at a different word offset; here EVERY stride-1 10-word
    * window is a dedup key, so a ≥10-word repeat is caught at any
    * alignment. A word survives iff NO duplicated window covers it;
    * each doc reports its original/kept word counts and the md5 of the
    * kept text (the longest-kept-run reassembly, order preserved).
    *
    * Shape: one stride-1 explode (~10× E26's volume, the price of
    * alignment-free matching) where the window strings come from the
    * compiled [[graft.functions.WordNgrams]] kernel and are hashed to
    * 64 bits BEFORE the shuffle — both the arg-min groupBy and the
    * join back on the window key carry only (hash, encoded-position)
    * longs, never window text. Then one doc-keyed aggregation of
    * duplicate window starts and an in-row coverage filter (O(words ×
    * dup-starts) per doc, zero extra shuffle). Same two-shuffle shape
    * as E26; the hash key space shards like any dedup key at 100 TB.
    * A 64-bit window-hash collision marks a false duplicate with
    * probability ~2⁻⁶⁴ per window pair — the string-keyed DuckDB
    * oracle would catch one at test scale.
    */
  def dedupSpansSliding(spark: SparkSession, dir: String, spanWords: Int = 10): DataFrame =
    dedupSpansSlidingOn(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")), spanWords)

  /** [[dedupSpansSliding]] over an explicit (doc_id, text) frame. */
  def dedupSpansSlidingOn(documents: DataFrame, spanWords: Int = 10): DataFrame = {
    val docs = documents.select(col("doc_id"), split(col("text"), " ").as("w"))
    val spans = docs
      .select(col("doc_id"),
        posexplode(graft.functions.WordNgrams.wordNgrams(col("w"), spanWords))
          .as(Seq("pos", "win")))
      .select(col("doc_id"), col("pos"), xxhash64(col("win")).as("h"))
    val key = col("doc_id") * 1048576L + col("pos")
    val firsts = spans.groupBy("h").agg(min(key).as("fk"))
    val dupStarts = spans.join(firsts, "h")
      .filter(key =!= col("fk"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("pos"))).as("dup_starts"))
    docs.join(dupStarts, Seq("doc_id"), "left")
      .withColumn("dups",
        coalesce(col("dup_starts"), expr("CAST(array() AS array<int>)")))
      .withColumn("kept_idx", expr(
        s"filter(sequence(0, size(w) - 1), i -> NOT exists(dups, p -> i BETWEEN p AND p + ${spanWords - 1}))"))
      .select(col("doc_id"),
        size(col("w")).cast("long").as("n_words"),
        size(col("kept_idx")).cast("long").as("n_kept"),
        md5(concat_ws(" ",
          expr("transform(kept_idx, i -> element_at(w, i + 1))"))).as("clean_md5"))
      .orderBy("doc_id")
  }

  def dedupSpansSlidingOracleSql: String =
    """WITH words AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |wins AS (
      |  SELECT doc_id, i AS pos, array_to_string(w[(i+1):(i+10)], ' ') AS win
      |  FROM words, UNNEST(range(0, greatest(len(w) - 9, 0))) AS t(i)),
      |firsts AS (SELECT win, min(doc_id*1048576 + pos) AS fk FROM wins GROUP BY 1),
      |dups AS (
      |  SELECT s.doc_id, s.pos FROM wins s JOIN firsts f USING (win)
      |  WHERE s.doc_id*1048576 + s.pos <> f.fk),
      |kept AS (
      |  SELECT wo.doc_id, i AS wi, wo.w[i+1] AS word
      |  FROM words wo, UNNEST(range(0, len(wo.w))) AS t(i)
      |  WHERE NOT EXISTS (SELECT 1 FROM dups d
      |    WHERE d.doc_id = wo.doc_id AND i BETWEEN d.pos AND d.pos + 9))
      |SELECT wo.doc_id,
      |  CAST(len(wo.w) AS BIGINT) AS n_words,
      |  CAST(count(k.wi) AS BIGINT) AS n_kept,
      |  md5(coalesce(string_agg(k.word, ' ' ORDER BY k.wi), '')) AS clean_md5
      |FROM words wo LEFT JOIN kept k USING (doc_id)
      |GROUP BY wo.doc_id, wo.w ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------- E27

  /** E27: per-document n-gram novelty in ingestion (doc_id) order — the
    * dataset-diversity curve: how many DISTINCT word-3-grams each doc
    * introduces that no earlier doc (or earlier position in the same
    * doc) contains. novelty_permille = (1000·n_new) div n_distinct,
    * integer end-to-end. A collapsing novelty curve is the standard
    * signal that a crawl has gone stale.
    *
    * Shape: grams explode → arg-min first occurrence (same integer
    * encoding as E26) → the firsts table REaggregates by its derived
    * doc_id (it never rejoins the corpus) → one join of two doc-keyed
    * aggregate tables. The per-doc distinct count is computed IN-ROW
    * (array_distinct over the doc's own gram array — zero shuffle);
    * the corpus-wide `distinct()` it replaced shuffled every gram
    * occurrence and was tools/CorpusScaleProbe's superlinear term at
    * 25× (at commit 3ba9126). Docs
    * with <3 words have no trigrams and drop out on both engines.
    */
  def ngramNovelty(spark: SparkSession, dir: String): DataFrame = {
    val docsG = Tables.documents(spark, dir)
      .select(col("doc_id"), trigrams(split(col("text"), " ")).as("gs"))
    val grams = docsG
      .select(col("doc_id"), posexplode(col("gs")).as(Seq("pos", "gram")))
    val firsts = grams
      .groupBy("gram").agg(min(col("doc_id") * 1048576L + col("pos")).as("fk"))
    val newPerDoc = firsts
      .groupBy(expr("fk div 1048576").as("doc_id"))
      .agg(count(lit(1)).as("n_new"))
    val distinctPerDoc = docsG
      .select(col("doc_id"),
        size(array_distinct(col("gs"))).cast("long").as("n_distinct"))
      .filter(col("n_distinct") > 0)
    distinctPerDoc.join(newPerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_distinct"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        expr("(1000 * coalesce(n_new, 0)) div n_distinct").as("novelty_permille"))
      .orderBy("doc_id")
  }

  def ngramNoveltyOracleSql: String =
    """WITH words AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |grams AS (
      |  SELECT doc_id, i AS pos, w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] AS gram
      |  FROM words, UNNEST(range(0, len(w)-2)) AS t(i)),
      |firsts AS (SELECT gram, min(doc_id*1048576 + pos) AS fk FROM grams GROUP BY 1),
      |newg AS (SELECT fk // 1048576 AS doc_id, CAST(count(*) AS BIGINT) AS n_new
      |  FROM firsts GROUP BY 1),
      |dist AS (SELECT doc_id, CAST(count(DISTINCT gram) AS BIGINT) AS n_distinct
      |  FROM grams GROUP BY 1)
      |SELECT d.doc_id, d.n_distinct,
      |  CAST(coalesce(n.n_new, 0) AS BIGINT) AS n_new,
      |  CAST((1000 * coalesce(n.n_new, 0)) // d.n_distinct AS BIGINT) AS novelty_permille
      |FROM dist d LEFT JOIN newg n USING (doc_id) ORDER BY 1""".stripMargin

  // ------------------------------------------------------------- E29

  /** E29: PMI-scored collocation mining — the word pairs that co-occur
    * adjacently far above chance (multiword expressions, named
    * entities in a real corpus). Quantized PMI over occurrence
    * counts: pmi_q = (10⁶·c12·T) div (c1·c2) with T = total bigram
    * occurrences — a monotone transform of p12/(p1·p2), integer
    * end-to-end (no ln ulp hazard), with a min-count floor so rare
    * noise pairs never rank. Top-k by (pmi_q desc, pair asc).
    *
    * Shape: one bigram count + one unigram count (both map-side
    * combined), two key-partitioned joins of the FILTERED pair table
    * against the unigram table, T as a one-row broadcast. The pair
    * table after the min-count floor is vocabulary-sized, not
    * corpus-sized. At 100 TB the 10⁶·c12·T product needs DECIMAL(38)
    * staging (c12·T can pass 2⁶³); at test scales BIGINT is exact.
    */
  def collocationsPmi(spark: SparkSession, dir: String, k: Int = 15,
                      minCount: Int = 5): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val w = split(col("text"), " ")
    // count by the joined "w1 w2" gram string (codegen'd kernel; words
    // contain no spaces by construction of the split, so grouping by
    // the gram ≡ grouping by the pair), then split the SURVIVING pairs
    // back into (w1, w2) — the pair table after the min-count floor is
    // vocabulary-sized, so the substring work is off the hot path
    val pairs = docs
      .select(explode(graft.functions.WordNgrams.wordNgrams(w, 2)).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("c12"))
    val uni = docs.select(explode(w).as("wd"))
      .groupBy("wd").agg(count(lit(1)).as("c"))
    val total = pairs.agg(sum("c12").as("t_bigrams"))
    pairs.filter(col("c12") >= minCount)
      .select(substring_index(col("bg"), " ", 1).as("w1"),
        substring_index(col("bg"), " ", -1).as("w2"), col("c12"))
      .join(uni.select(col("wd").as("w1"), col("c").as("c1")), "w1")
      .join(uni.select(col("wd").as("w2"), col("c").as("c2")), "w2")
      .crossJoin(broadcast(total))
      .select(col("w1"), col("w2"), col("c12"),
        expr("(1000000 * c12 * t_bigrams) div (c1 * c2)").as("pmi_q"))
      .orderBy(col("pmi_q").desc, col("w1").asc, col("w2").asc)
      .limit(k)
  }

  def collocationsPmiOracleSql: String =
    """WITH words AS (
      |  SELECT string_split(text, ' ') AS w FROM documents),
      |bg AS (
      |  SELECT w[i] AS w1, w[i+1] AS w2
      |  FROM words, UNNEST(range(1, len(w))) AS t(i)),
      |pairs AS (
      |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM bg GROUP BY 1, 2),
      |uni AS (
      |  SELECT u AS wd, CAST(count(*) AS BIGINT) AS c
      |  FROM words, UNNEST(w) AS s(u) GROUP BY 1),
      |tot AS (SELECT CAST(sum(c12) AS BIGINT) AS t FROM pairs)
      |SELECT p.w1, p.w2, p.c12,
      |  CAST((1000000 * p.c12 * tot.t) // (u1.c * u2.c) AS BIGINT) AS pmi_q
      |FROM pairs p
      |JOIN uni u1 ON p.w1 = u1.wd
      |JOIN uni u2 ON p.w2 = u2.wd
      |CROSS JOIN tot
      |WHERE p.c12 >= 5
      |ORDER BY pmi_q DESC, p.w1 ASC, p.w2 ASC LIMIT 15""".stripMargin

  // ------------------------------------------------------------- E34

  /** E34: cross-source contamination matrix — for every source pair,
    * the Jaccard overlap of their word-3-gram vocabularies. The corpus
    * forensics report that surfaces inter-source duplication (mirrored
    * crawls, vendored datasets, license-text bleed) BEFORE mixture
    * weights are chosen; a source pair with high vocabulary overlap
    * double-counts its content in the training mix.
    *
    * Shape: distinct (source, shingle) pairs (one explode + one
    * map-side-combined distinct), then ONE groupBy(shingle) collects
    * each shingle's source set (bounded by the source catalog, 10²-10³
    * at any corpus size) and the pair expansion happens IN-ROW — two
    * chained explodes of the ≤|sources| array. Versus the
    * self-join-on-shingle formulation this HALVES the shuffled volume
    * (one keyed shuffle of the gram table instead of two sides plus
    * join fan-out) at the cost of an object-based set aggregate —
    * measured locally (CPU-bound, 25×, tools/CorpusScaleProbe at commit 3ba9126)
    * ~20s vs ~16s, but the
    * shuffle half is the half that matters on a network. Per-source
    * vocabulary sizes broadcast. Overlap reported as integer permille
    * ((1000·∩) div ∪) — no float division.
    */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val grams = Tables.documents(spark, dir)
      .select(col("source"), explode(trigrams(split(col("text"), " "))).as("g"))
      .distinct()
    val vocab = grams.groupBy("source").agg(count(lit(1)).as("n_vocab"))
    val shared = grams.groupBy("g").agg(collect_set(col("source")).as("ss"))
      .select(explode(col("ss")).as("source_a"), col("ss"))
      .select(col("source_a"), explode(col("ss")).as("source_b"))
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_shared"))
    shared
      .join(broadcast(vocab.select(col("source").as("source_a"), col("n_vocab").as("n_a"))), "source_a")
      .join(broadcast(vocab.select(col("source").as("source_b"), col("n_vocab").as("n_b"))), "source_b")
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        col("n_shared"),
        expr("(1000 * n_shared) div (n_a + n_b - n_shared)").as("overlap_permille"))
      .orderBy("source_a", "source_b")
  }

  def sourceOverlapOracleSql: String =
    """WITH words AS (
      |  SELECT source, string_split(text, ' ') AS w FROM documents),
      |grams AS (
      |  SELECT DISTINCT source, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
      |  FROM words, UNNEST(range(1, len(w)-1)) AS t(i)),
      |vocab AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM grams GROUP BY 1),
      |shared AS (
      |  SELECT a.source AS source_a, b.source AS source_b,
      |    CAST(count(*) AS BIGINT) AS n_shared
      |  FROM grams a JOIN grams b ON a.g = b.g AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT s.source_a, s.source_b, va.n AS n_a, vb.n AS n_b, s.n_shared,
      |  CAST((1000 * s.n_shared) // (va.n + vb.n - s.n_shared) AS BIGINT)
      |    AS overlap_permille
      |FROM shared s
      |JOIN vocab va ON s.source_a = va.source
      |JOIN vocab vb ON s.source_b = vb.source
      |ORDER BY source_a, source_b""".stripMargin

  // ------------------------------------------------------------- E32

  /** E32: importance-based data selection against a target distribution
    * — the DSIR recipe (Xie et al. 2023, "Data Selection for Language
    * Models via Importance Resampling") re-expressed with integer
    * arithmetic: score every raw-corpus document by how much more
    * likely its hashed n-gram stream is under a TARGET-corpus LM than
    * under the RAW-corpus LM, and keep the top-k. Here the feature
    * stream is the word-bigram stream (the E25 kernel), the two LMs
    * are add-one-smoothed occurrence models, and each bigram
    * contributes the quantized likelihood ratio
    * rq = (10⁶·(c_t+1)·(N_r+V)) div ((c_r+1)·(N_t+V)) — a monotone
    * transform of p_target/p_raw, integer end-to-end (the E20/E25/E29
    * no-ln contract). A document's score is its mean rq over bigram
    * occurrences (length-normalized, integer division).
    *
    * Shape: two map-side-combined bigram counts (target, raw), one
    * bounded distinct-vocabulary count, ratio join key-partitioned on
    * the bigram, totals as a one-row broadcast, then the scoring join
    * reuses E25's inverted-index shape and top-k is a bounded
    * TakeOrdered — no vocabulary broadcast, no ln(), no driver loop.
    * At 10¹³+ bigram occurrences the rq product needs DECIMAL(38)
    * staging (the E29 note); BIGINT is exact at any tested SF.
    */
  def dsirSelect(spark: SparkSession, dir: String,
                 targetSource: String = "src0", k: Int = 25): DataFrame =
    dsirSelectOn(Tables.documents(spark, dir), targetSource, k)

  /** E32 over an arbitrary (doc_id, source, text) frame (spec seam). */
  def dsirSelectOn(docs: DataFrame, targetSource: String, k: Int): DataFrame = {
    val bigrams = docs.select(col("doc_id"), col("source"),
      explode(graft.functions.WordNgrams.wordNgrams(split(col("text"), " "), 2))
        .as("bg"))
    val ct = bigrams.filter(col("source") === targetSource)
      .groupBy("bg").agg(count(lit(1)).as("c_t"))
    val cr = bigrams.filter(col("source") =!= targetSource)
      .groupBy("bg").agg(count(lit(1)).as("c_r"))
    // totals (incl. the joint vocabulary V) derive from the two
    // vocabulary-sized count tables — never a third aggregation pass
    // over the corpus-sized bigram stream
    val vocab = cr.join(ct, Seq("bg"), "full_outer")
    val totals = vocab.agg(
      coalesce(sum("c_t"), lit(0L)).as("n_t"),
      coalesce(sum("c_r"), lit(0L)).as("n_r"),
      count(lit(1)).as("v"))
    val ratio = vocab.filter(col("c_r").isNotNull)
      .crossJoin(broadcast(totals))
      .select(col("bg"),
        expr("(1000000 * (coalesce(c_t, 0) + 1) * (n_r + v)) div ((c_r + 1) * (n_t + v))")
          .as("rq"))
    bigrams.filter(col("source") =!= targetSource)
      .join(ratio, "bg")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("rq")).as("importance_q"))
      .select(col("doc_id"), col("n_bigrams"), col("importance_q"),
        expr("importance_q div n_bigrams").as("avg_q"))
      .orderBy(col("avg_q").desc, col("doc_id").asc)
      .limit(k)
  }

  def dsirSelectOracleSql: String =
    """WITH words AS (
      |  SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
      |bg AS (
      |  SELECT doc_id, source, w[i] || ' ' || w[i+1] AS bg
      |  FROM words, UNNEST(range(1, len(w))) AS t(i)),
      |ct AS (SELECT bg, CAST(count(*) AS BIGINT) AS c FROM bg
      |  WHERE source = 'src0' GROUP BY 1),
      |cr AS (SELECT bg, CAST(count(*) AS BIGINT) AS c FROM bg
      |  WHERE source <> 'src0' GROUP BY 1),
      |tot AS (SELECT
      |  CAST((SELECT coalesce(sum(c), 0) FROM ct) AS BIGINT) AS nt,
      |  CAST((SELECT coalesce(sum(c), 0) FROM cr) AS BIGINT) AS nr,
      |  CAST((SELECT count(DISTINCT bg) FROM bg) AS BIGINT) AS v),
      |ratio AS (
      |  SELECT r.bg,
      |    CAST((1000000 * (coalesce(t.c, 0) + 1) * (nr + v))
      |      // ((r.c + 1) * (nt + v)) AS BIGINT) AS rq
      |  FROM cr r LEFT JOIN ct t USING (bg) CROSS JOIN tot),
      |sc AS (
      |  SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |    CAST(sum(rq) AS BIGINT) AS importance_q
      |  FROM bg b JOIN ratio USING (bg) WHERE b.source <> 'src0' GROUP BY 1)
      |SELECT doc_id, n_bigrams, importance_q,
      |  CAST(importance_q // n_bigrams AS BIGINT) AS avg_q
      |FROM sc ORDER BY avg_q DESC, doc_id ASC LIMIT 25""".stripMargin

  def lmBigramScoreOracleSql: String =
    """WITH words AS (
      |  SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
      |bigrams AS (
      |  SELECT doc_id, source, w[i] || ' ' || w[i+1] AS bg
      |  FROM words, UNNEST(range(1, len(w))) AS t(i)),
      |lm AS (
      |  SELECT bg, CAST(count(*) AS BIGINT) AS c12 FROM bigrams
      |  WHERE source <> 'src0' GROUP BY 1),
      |marg AS (
      |  SELECT string_split(bg, ' ')[1] AS w1, CAST(sum(c12) AS BIGINT) AS c1
      |  FROM lm GROUP BY 1),
      |ratio AS (
      |  SELECT bg, CAST((1000000 * c12) // c1 AS BIGINT) AS r
      |  FROM lm JOIN marg ON string_split(lm.bg, ' ')[1] = marg.w1)
      |SELECT b.doc_id,
      |  CAST(count(*) AS BIGINT) AS n_bigrams,
      |  CAST(count(r.r) AS BIGINT) AS n_seen,
      |  CAST(coalesce(sum(r.r), 0) AS BIGINT) AS familiarity
      |FROM bigrams b LEFT JOIN ratio r ON b.bg = r.bg
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------- E41

  /** E41: CCNet-style perplexity bucketing + graded resample (Wenzek
    * et al. 2020 §4.3: rank documents by LM score, split head/middle/
    * tail, keep the head and downsample the rest) — composed on E25's
    * integer-quantized bigram-LM familiarity (per-bigram normalized by
    * integer division, so the score stays an exact BIGINT). Per-SOURCE
    * exact tertiles via per-doc ranks (ties broken by doc_id — a
    * per-doc bucket assignment needs per-doc ranks, unlike E39's
    * value-only percentiles, so the histogram trick does not apply).
    * The rank comes from Ranks.groupedRowNumber — E15's two-pass
    * prefix-sum over fixed-width SCORE buckets, not a
    * source-partitioned window — so a source holding most of the
    * corpus ranks across parallel tasks (the round-7 skew caveat,
    * closed), and the tertile denominator grp_n rides the same
    * stage-1 sums instead of a per-source count window. The
    * graded keep (head 100%, middle 50%, tail 10%) reuses E14's
    * multiplicative-hash sampler, so kept is a pure function of
    * doc_id — reproducible and join-free.
    */
  def perplexityBuckets(spark: SparkSession, dir: String): DataFrame = {
    val scores = lmBigramScore(spark, dir)
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    // pin the SKINNY (doc_id, source, score) table before ranking:
    // groupedRowNumber makes three passes over its input (min/max,
    // stage-1 counts, the ranked plan), and each un-pinned pass would
    // re-run the whole bigram-LM pipeline upstream — measured 3× the
    // key's cost at the 125k-doc tier (tools/CorpusScaleProbe at commit 3ba9126). An eager localCheckpoint is
    // the at-scale shape too: materialize the scored table once, rank
    // the materialization (blocks are GC'd with the DataFrame).
    val scored = docs.join(scores, "doc_id")
      .select(col("doc_id"), col("source"),
        expr("familiarity div greatest(n_bigrams, 1)").as("score"))
      .localCheckpoint()
    val h = pmod(col("doc_id") * lit(graft.operators.TextOps.SampleHashMult), lit(100L))
    Ranks.groupedRowNumber(scored, "source", "score", descending = true,
        tieCol = "doc_id")
      .select(col("doc_id"), col("source"), col("score"),
        when(col("rn") * 3 <= col("grp_n"), "head")
          .when(col("rn") * 3 <= col("grp_n") * 2, "middle")
          .otherwise("tail").as("bucket"))
      .select(col("doc_id"), col("source"), col("score"), col("bucket"),
        (col("bucket") === "head" ||
          (col("bucket") === "middle" && h < 50) ||
          (col("bucket") === "tail" && h < 10)).cast("long").as("kept"))
      .orderBy("doc_id")
  }

  /** E41 oracle: the E25 oracle as a subquery (DuckDB allows WITH
    * inside a derived table), then the same integer rank/tertile/hash
    * arithmetic.
    */
  def perplexityBucketsOracleSql: String =
    s"""WITH sc AS (
       |  SELECT d.doc_id, d.source,
       |    CAST(q.familiarity // greatest(q.n_bigrams, 1) AS BIGINT) AS score
       |  FROM documents d JOIN (
       |$lmBigramScoreOracleSql
       |  ) q USING (doc_id)),
       |w AS (
       |  SELECT doc_id, source, score,
       |    row_number() OVER (PARTITION BY source ORDER BY score DESC, doc_id) AS rn,
       |    count(*) OVER (PARTITION BY source) AS n
       |  FROM sc),
       |b AS (
       |  SELECT doc_id, source, score,
       |    CASE WHEN rn * 3 <= n THEN 'head'
       |         WHEN rn * 3 <= n * 2 THEN 'middle'
       |         ELSE 'tail' END AS bucket
       |  FROM w)
       |SELECT doc_id, source, score, bucket,
       |  CAST(bucket = 'head'
       |    OR (bucket = 'middle' AND (doc_id * ${graft.operators.TextOps.SampleHashMult}) % 100 < 50)
       |    OR (bucket = 'tail' AND (doc_id * ${graft.operators.TextOps.SampleHashMult}) % 100 < 10) AS BIGINT) AS kept
       |FROM b ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------- E47

  /** E47: corpus SNAPSHOT DIFF — per source, how many documents were
    * added / removed / changed / unchanged versus a persisted release
    * manifest of (doc_id, content hash). This is the release-to-release
    * drift report every managed corpus publishes with a new version
    * (and the first thing an operator reads when a downstream metric
    * moves: did the data change under me, and WHERE?). The manifest is
    * hashes only — diffing releases must not require keeping the old
    * corpus, only its O(docs) fingerprint table.
    *
    * The prior release is derived deterministically from the corpus
    * (the D10/D12 standing-split device, documented as the fixture):
    * the manifest misses every doc_id % 5 == 0 (⇒ added), stores a
    * perturbed hash for doc_id % 7 == 0 (⇒ changed), and carries ghost
    * entries at negative ids for doc_id % 11 == 0 (⇒ removed; the
    * ghost keeps its origin's source so removal attributes to a
    * catalog entry). The manifest is WRITTEN to disk and read back
    * before diffing — the diff runs against the persisted artifact,
    * not a lineage twin of the current corpus.
    *
    * Scale shape: one corpus scan writes the manifest (a real system
    * reads the prior release's file instead), then ONE full-outer join
    * keyed on doc_id (both sides hash-partition on the key; no
    * broadcast of anything corpus-sized) and a map-side-combined
    * conditional rollup. Status classification is per-row null/hash
    * arithmetic — exact, no doubles anywhere.
    */
  def corpusSnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_snapshot")
    try {
      val base = docs.filter(col("doc_id") % 5 =!= 0)
        .select(col("doc_id"), col("source"),
          when(col("doc_id") % 7 === 0, md5(concat(col("text"), lit("~v1"))))
            .otherwise(md5(col("text"))).as("snap_hash"))
      val ghosts = docs.filter(col("doc_id") % 11 === 0)
        .select((-col("doc_id") - 1).as("doc_id"), col("source"),
          md5(concat(col("text"), lit("~gone"))).as("snap_hash"))
      base.union(ghosts).write.mode("overwrite")
        .parquet(tmp.resolve("manifest").toString)
      val snap = spark.read.parquet(tmp.resolve("manifest").toString)
        .select(col("doc_id"), col("source").as("snap_source"), col("snap_hash"))
      val cur = docs.select(col("doc_id"), col("source").as("cur_source"),
        md5(col("text")).as("cur_hash"))
      val status = when(col("snap_hash").isNull, "added")
        .when(col("cur_hash").isNull, "removed")
        .when(col("cur_hash") =!= col("snap_hash"), "changed")
        .otherwise("same")
      cur.join(snap, Seq("doc_id"), "full_outer")
        .select(coalesce(col("cur_source"), col("snap_source")).as("source"),
          status.as("status"))
        .groupBy("source")
        .agg(
          sum((col("status") === "added").cast("long")).as("n_added"),
          sum((col("status") === "removed").cast("long")).as("n_removed"),
          sum((col("status") === "changed").cast("long")).as("n_changed"),
          sum((col("status") === "same").cast("long")).as("n_same"))
        .orderBy("source")
        .localCheckpoint(true)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(tmp.toFile)
    }
  }

  def corpusSnapshotDiffOracleSql: String =
    """WITH cur AS (
      |  SELECT doc_id, source, md5(text) AS cur_hash FROM documents),
      |snap AS (
      |  SELECT doc_id, source,
      |    CASE WHEN doc_id % 7 = 0 THEN md5(text || '~v1')
      |         ELSE md5(text) END AS snap_hash
      |  FROM documents WHERE doc_id % 5 <> 0
      |  UNION ALL
      |  SELECT -doc_id - 1, source, md5(text || '~gone')
      |  FROM documents WHERE doc_id % 11 = 0),
      |j AS (
      |  SELECT coalesce(c.source, s.source) AS source,
      |    CASE WHEN s.doc_id IS NULL THEN 'added'
      |         WHEN c.doc_id IS NULL THEN 'removed'
      |         WHEN c.cur_hash <> s.snap_hash THEN 'changed'
      |         ELSE 'same' END AS status
      |  FROM cur c FULL OUTER JOIN snap s ON c.doc_id = s.doc_id)
      |SELECT source,
      |  CAST(sum(CASE WHEN status = 'added' THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
      |  CAST(sum(CASE WHEN status = 'removed' THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
      |  CAST(sum(CASE WHEN status = 'changed' THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
      |  CAST(sum(CASE WHEN status = 'same' THEN 1 ELSE 0 END) AS BIGINT) AS n_same
      |FROM j GROUP BY source ORDER BY source""".stripMargin
}
