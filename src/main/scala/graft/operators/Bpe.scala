package graft.operators

import graft.{Memo, Tables}
import graft.functions.BpeFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** BPE tokenizer training + application — the tokenizer half of a
  * training-data pipeline (the reference has none; every LLM corpus
  * pass needs one). Training follows Sennrich et al. 2016: start from
  * character symbols, repeatedly merge the most frequent adjacent
  * symbol pair. The distributed part is exactly one aggregation — the
  * corpus collapses to a WORD-TYPE frequency table (at 100 TB still
  * only |vocab| rows after the map-side-combined groupBy), capped to
  * the top [[VocabCap]] types by count (TakeOrdered, the repo's
  * bounded-collect contract); the merge loop then runs driver-side
  * over that bounded table, exactly how production tokenizers train
  * (on a frequency table, not the raw corpus). Deterministic: ties in
  * pair count break lexicographically.
  *
  * Application is the [[graft.functions.BpeTokenCount]] kernel: the
  * learned merge table rides into whole-stage codegen as a reference
  * object and each document's token count computes in one scan with
  * no token-stream materialization.
  */
object Bpe {

  val VocabCap = 4096
  val NumMerges = 20

  /** merges in rank order, with the pair's count at merge time. */
  case class Model(merges: Array[(String, String)], counts: Array[Long])

  /** Bounded word-type frequency table: ONE corpus aggregation, then
    * the top-VocabCap types by (count desc, word asc).
    */
  private def wordCounts(spark: SparkSession, dir: String): Array[(String, Long)] =
    Tables.documents(spark, dir)
      .select(explode(split(trim(lower(col("text"))), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w")).limit(VocabCap)
      .collect().map(r => (r.getString(0), r.getLong(1)))

  def train(spark: SparkSession, dir: String): Model =
    Memo(dir, "bpe.model") {
      var words: Array[(Array[String], Long)] =
        wordCounts(spark, dir).map { case (w, n) => (w.map(_.toString).toArray, n) }
      require(words.nonEmpty, "cannot train BPE on an empty corpus")
      val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      val mCounts = scala.collection.mutable.ArrayBuffer.empty[Long]
      var round = 0
      var exhausted = false
      while (round < NumMerges && !exhausted) {
        val pairCounts = scala.collection.mutable.HashMap.empty[(String, String), Long]
        words.foreach { case (syms, n) =>
          var i = 0
          while (i + 1 < syms.length) {
            val k = (syms(i), syms(i + 1))
            pairCounts.update(k, pairCounts.getOrElse(k, 0L) + n)
            i += 1
          }
        }
        if (pairCounts.isEmpty) exhausted = true
        else {
          val ((l, r), c) = pairCounts.toSeq
            .minBy { case ((a, b), n) => (-n, a, b) }
          merges += ((l, r)); mCounts += c
          words = words.map { case (syms, n) => (mergePair(syms, l, r), n) }
        }
        round += 1
      }
      Model(merges.toArray, mCounts.toArray)
    }

  /** One left-to-right fusing pass of (l, r) over a symbol array —
    * the same rule BpeKernel applies, shared here for training.
    */
  private def mergePair(syms: Array[String], l: String, r: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out += (l + r); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toArray
  }

  /** Driver query: the learned merge table (rank, left, right,
    * pair_count) — rows-only (the merge loop is not SQL-expressible);
    * BpeSpec pins the algorithm against an independent naive
    * implementation on a hand-checked corpus, plus determinism.
    */
  def bpeTrain(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val m = train(spark, dir)
    m.merges.zip(m.counts).zipWithIndex
      .map { case (((l, r), c), i) => (i + 1, l, r, c) }.toSeq
      .toDF("rank", "left", "right", "pair_count")
      .orderBy("rank")
  }

  /** Driver query: per-document token counts under the LEARNED
    * tokenizer next to the whitespace count (the compression the
    * merges buy) — one codegen'd scan, merge table as a reference
    * object. Rows-only; BpeSpec pins kernel ≡ independent per-word
    * application and the invariant chars ≥ bpe_tokens ≥ ws_tokens.
    */
  def tokenCountBpe(spark: SparkSession, dir: String): DataFrame = {
    val m = train(spark, dir)
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(split(trim(lower(col("text"))), "\\s+")).cast("long").as("ws_tokens"),
        BpeFunctions.bpeTokenCount(col("text"), m.merges).as("bpe_tokens"))
      .orderBy("doc_id")
  }

  /** E39b: the learned-tokenizer slice of the dataset card — per-source
    * whitespace vs LEARNED-BPE token volume (the number a release
    * actually reports: how many TOKENIZER tokens each source
    * contributes, and the compression the merges buy on it). Same
    * codegen'd kernel as E22b, aggregated per source in one scan.
    * Rows-only by design, same structural reason as E22/E22b — the
    * trained merge loop is inherently iterative, and folding these
    * columns into the oracle-backed E39 card would demote its exact
    * columns from the hash gate; BpeSpec pins this rollup ≡ E22b's
    * per-doc counts aggregated per source.
    */
  def corpusProfileBpe(spark: SparkSession, dir: String): DataFrame = {
    val m = train(spark, dir)
    Tables.documents(spark, dir)
      .select(col("source"),
        size(split(trim(lower(col("text"))), "\\s+")).cast("long").as("ws"),
        BpeFunctions.bpeTokenCount(col("text"), m.merges).as("bpe"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ws")).as("sum_ws_tokens"),
        sum(col("bpe")).as("sum_bpe_tokens"))
      .orderBy("source")
  }
}
