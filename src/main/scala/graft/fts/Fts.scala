package graft.fts

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tokenizers

/** Full-text search over a document DataFrame: posting-list build (F3) and
  * BM25 scoring (F4) with SQLite-FTS5 semantics — k1=1.2, b=0.75,
  * numerator tf*(k1+1), idf = ln((N-df+0.5)/(df+0.5)) floored at 1e-6
  * (reference: next-plaid/src/text_search.rs:1246-1271 riding on FTS5).
  *
  * The posting table `(term, doc_id, tf)` is the Spark replacement for the
  * FTS5 virtual table; at 100 TB it partitions by term hash and BM25 is
  * one broadcast (query terms) + one shuffle (groupBy doc).
  */
object Fts {

  val K1 = 1.2
  val B = 0.75

  val tokenizeUnicode61 = udf((s: String) =>
    if (s == null) Seq.empty[String] else Tokenizers.unicode61(s))
  val tokenizeTrigram = udf((s: String) =>
    if (s == null) Seq.empty[String] else Tokenizers.trigram(s))
  val tokenizeIdentifierAware = udf((s: String) =>
    if (s == null) Seq.empty[String] else Tokenizers.tokenizeIdentifiers(s))

  def tokenizer(name: String) = name match {
    case "unicode61"        => tokenizeUnicode61
    case "trigram"          => tokenizeTrigram
    case "identifier_aware" => tokenizeIdentifierAware
  }

  /** `(doc_id, _terms)` — the tokenizer applied per document.
    *
    * Trigram is deliberately the JVM tokenizer UDF, not a builtin
    * `transform(sequence, i -> substr(i, 3))` chain: measured at sf0.1
    * the builtin runs 2-6× SLOWER because `UTF8String.substring` scans
    * from the string start to find each char boundary — O(len²) per
    * document — while the UDF's `java.lang.String` slices are O(1)
    * indexed. unicode61 stays builtin (`regexp_extract_all` is a single
    * linear pass). */
  private def withTerms(
      docs: DataFrame, idCol: String, textCol: String,
      tokenizerName: String): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"), col(textCol).as("_text"))
    val terms = tokenizerName match {
      case "unicode61" =>
        expr("regexp_extract_all(lower(_text), '[\\\\p{L}\\\\p{Nd}]+', 0)")
      case other => tokenizer(other)(col("_text"))
    }
    base.select(col("doc_id"), terms.as("_terms"))
  }

  def buildPostings(
      docs: DataFrame, idCol: String, textCol: String,
      tokenizerName: String = "unicode61"
  ): DataFrame =
    withTerms(docs, idCol, textCol, tokenizerName)
      .select(col("doc_id"), explode(col("_terms")).as("term"))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"))

  /** Doc length table `(doc_id, dl)` from postings. */
  def docLengths(postings: DataFrame): DataFrame =
    postings.groupBy("doc_id").agg(sum("tf").as("dl"))

  /** Trigram doc length without materializing the grams: the tokenizer
    * emits exactly `max(len(lower(text)) - 2, 0)` grams where `len` is
    * UTF-16 code units of the LOWERCASED text (Tokenizers.trigram slides
    * over `String` indices). Spark's builtin `length()` counts code
    * points of the raw text, which disagrees for non-BMP chars and
    * lowercase-expanding chars (U+0130), so the count is taken on the
    * JVM over the same base the tokenizer uses. */
  private val trigramDl = udf { (s: String) =>
    if (s == null) 0L
    else {
      val n = s.toLowerCase.length
      if (n < 3) 0L else (n - 2).toLong
    }
  }

  /** Doc lengths computed straight from the source text: `dl` equals
    * the postings' `sum(tf)` by construction (total term occurrences),
    * and the `dl > 0` filter reproduces the postings-derived id set
    * (docs with no terms have no postings rows) — one narrow map over
    * the corpus instead of re-aggregating the exploded postings. For
    * trigram the count is arithmetic on the lowercased UTF-16 length
    * (see [[trigramDl]]): no term materialization at all. */
  def docLengthsOf(
      docs: DataFrame, idCol: String, textCol: String,
      tokenizerName: String): DataFrame = {
    val dl =
      if (tokenizerName == "trigram")
        docs.select(col(idCol).as("doc_id"),
          trigramDl(col(textCol)).as("dl"))
      else
        withTerms(docs, idCol, textCol, tokenizerName)
          .select(col("doc_id"), size(col("_terms")).cast("long").as("dl"))
    dl.filter(col("dl") > 0)
  }

  /** F4 BM25 search. `andSemantics=true` = FTS5 implicit AND
    * (sanitize_fts5_query, text_search.rs:949-969); false = OR
    * (identifier-aware path, :982-993). Optional F5 subset restriction.
    * Returns (doc_id, score) — higher is better (bm25() negation applied).
    */
  def bm25(
      spark: SparkSession,
      postings: DataFrame,
      queryTerms: Seq[String],
      andSemantics: Boolean = true,
      subset: Option[DataFrame] = None,
      doclensOpt: Option[DataFrame] = None
  ): DataFrame = {
    // persisted doclens (FtsIndex) avoids re-aggregating the postings per
    // query AND carries parquet size stats, so Catalyst can auto-broadcast
    val doclens0 = doclensOpt.getOrElse(docLengths(postings))
    // F5 subset planned by size (one cheap count of the filter output):
    // broad filters must not force a driver-sized broadcast
    val doclens = subset match {
      case Some(sub) =>
        val ids = sub.select("doc_id")
        doclens0.join(graft.util.Plan.broadcastIfBounded(ids, ids.count()),
          Seq("doc_id"), "left_semi")
      case None => doclens0
    }
    // global stats as a broadcast scalar row (stays lazy, no collect)
    val stats = doclens0.agg(
      count(lit(1)).cast("double").as("n_docs"),
      avg(col("dl")).as("avgdl"))
    // literal In predicate (not a broadcast join): it reaches the parquet
    // scan as a pushed filter, and postings are term-sorted within
    // partitions, so row-group stats prune everything but the query's
    // terms — a broadcast join would scan the full postings table
    val matched = postings.filter(col("term").isin(queryTerms.distinct: _*))
    // df over the full corpus (FTS5 computes idf on the whole table;
    // subset filtering restricts candidates, not statistics)
    val dfTable = matched
      .groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    val scored = matched
      .join(broadcast(dfTable), "term")
      .join(doclens, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        greatest(log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)),
          lit(1e-6)))
      .withColumn("s",
        col("idf") * (col("tf") * (K1 + 1)) /
          (col("tf") + lit(K1) * (lit(1.0 - B) + lit(B) * col("dl") / col("avgdl"))))
      .groupBy("doc_id")
      .agg(sum("s").as("score"), count(lit(1)).as("n_matched"))
    val filtered =
      if (andSemantics) scored.filter(col("n_matched") === queryTerms.distinct.length)
      else scored
    filtered.select("doc_id", "score")
  }

  /** BM25 top-k with rank (deterministic tie-break by doc_id). The query
    * is tokenized WITH THE INDEX'S OWN tokenizer: a trigram index must
    * see trigram query terms (FTS5 trigram substring semantics — AND over
    * the query's character 3-grams, text_search.rs:68-104) or no query
    * longer than 3 chars could ever match. */
  def search(
      spark: SparkSession,
      postings: DataFrame,
      query: String,
      topK: Int,
      tokenizerName: String = "unicode61",
      subset: Option[DataFrame] = None,
      doclensOpt: Option[DataFrame] = None
  ): DataFrame = {
    val scored = bm25(spark, postings, queryTerms(tokenizerName, query),
      andSemantics(tokenizerName), subset, doclensOpt)
    graft.operators.Rankers.topKGlobal(
      scored, Seq(col("score").desc, col("doc_id").asc), topK)
  }

  /** The query tokenizer dispatch shared by [[search]] and the resident
    * image ([[FtsIndex]]): identifier-aware queries OR their terms, the
    * other tokenizers AND them. */
  def queryTerms(tokenizerName: String, query: String): Seq[String] =
    tokenizerName match {
      case "identifier_aware" => Tokenizers.sanitizeQueryTermsOr(query)
      case "trigram"          => Tokenizers.trigram(query).distinct
      case _                  => Tokenizers.sanitizeQueryTerms(query)
    }

  def andSemantics(tokenizerName: String): Boolean = tokenizerName != "identifier_aware"

  /** Scalar twin of [[bm25]]'s idf column: Spark's `log` is
    * `StrictMath.log` and yields null (so `greatest` picks the floor) for
    * a non-positive argument. */
  def idf(nDocs: Double, df: Double): Double = {
    val x = (nDocs - df + 0.5) / (df + 0.5)
    if (x <= 0.0) 1e-6 else math.max(StrictMath.log(x), 1e-6)
  }

  /** Scalar twin of [[bm25]]'s per-posting score column, operation for
    * operation in the same order, so a single posting scores
    * bit-identically on both paths. */
  def termScore(idf: Double, tf: Long, dl: Long, avgdl: Double): Double =
    idf * (tf * (K1 + 1)) / (tf + K1 * ((1.0 - B) + B * dl / avgdl))
}
