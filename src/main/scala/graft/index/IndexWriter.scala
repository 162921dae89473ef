package graft.index

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.Fs

/** The one writer of an index's token-derived tables. The cold build,
  * the incremental append and the reference-format import each hand it
  * one batch of encoded token rows `(doc_id, tok, code, residual)`, and
  * it writes the `tokens`, `doclens`, `doc_codes` and `ivf` tables from
  * that batch alone — the reference's on-disk writer (index.rs:373-528)
  * and update_index's table patch (update.rs:771-1244) as one routine. A
  * cold build is the first increment: only the target differs.
  */
object IndexWriter {

  /** Where a batch lands. */
  sealed trait Target

  /** A fresh index: every table is written anew, the tokens table laid
    * out for `numTokens` rows. */
  final case class Fresh(numTokens: Long) extends Target

  /** An existing index whose posting lists are `ivf`: tokens, doclens and
    * doc_codes rows are appended, and the batch's postings are merged
    * into the codes they touch (update.rs IVF patch semantics — every
    * other code passes through unchanged). */
  final case class Onto(ivf: DataFrame) extends Target

  private def emptyLongArray = array().cast("array<bigint>")

  /** Token rows `(doc_id + offset, tok, vec)` of `docs(doc_id, embeddings)`
    * (narrow explode; no shuffle). */
  def tokensOf(docs: DataFrame, offset: Long = 0L): DataFrame =
    docs.select((col("doc_id") + lit(offset)).as("doc_id"),
      posexplode(col("embeddings")).as(Seq("tok", "vec")))

  /** B4–B6 over token rows `(doc_id, tok, vec)`: `(doc_id, tok, code,
    * residual, rnorm)`, where rnorm is the pre-quantization residual L2
    * norm that the append's threshold refresh reads. */
  def encode(spark: SparkSession, codec: Codec, tokens: DataFrame): DataFrame = {
    import spark.implicits._
    val codecBc = spark.sparkContext.broadcast(codec)
    tokens.select("doc_id", "tok", "vec")
      .as[(Long, Int, Array[Float])]
      .mapPartitions { rows =>
        val c = codecBc.value
        rows.map { case (docId, tok, vec) =>
          val (code, packed, rnorm) = c.encode(vec)
          (docId, tok, code, packed, rnorm)
        }
      }
      .toDF("doc_id", "tok", "code", "residual", "rnorm")
  }

  /** Write `batch` into the index tables at `path` and return its token
    * count, observed in the tokens pass. Every table reads `batch`, so
    * callers hand it cached or staged on disk.
    *
    * A fresh tokens table is range-partitioned by doc_id, about 500k rows
    * per file capped by the session's shuffle parallelism (no near-empty
    * files for a small corpus, no single giant file at 100 TB), and
    * sorted by (doc_id, tok) so the exact-rerank gather is a range read.
    * doclens and doc_codes come from one per-doc aggregation. */
  def write(spark: SparkSession, path: String, batch: DataFrame, target: Target): Long = {
    val tokens = batch.select("doc_id", "tok", "code", "residual")
    val (put, laidOut) = target match {
      case Fresh(numTokens) =>
        val parts = math.max(1L, math.min(
          spark.sessionState.conf.numShufflePartitions.toLong,
          (numTokens + 499999L) / 500000L)).toInt
        // single-partition output skips repartitionByRange's extra
        // range-boundary sampling job (tiny indexes)
        (Fs.rewrite _,
          (if (parts == 1) tokens.coalesce(1)
           else tokens.repartitionByRange(parts, col("doc_id")))
            .sortWithinPartitions("doc_id", "tok"))
      case Onto(_) => (Fs.appendTable _, tokens)
    }
    // observed above the range exchange: its boundary-sampling job
    // would otherwise count every row twice
    val tokenCount = Observation("index tokens")
    put(laidOut.observe(tokenCount, count(lit(1)).as("n")), s"$path/tokens")
    val n = tokenCount.get("n").asInstanceOf[Long]

    // AQE coalesces the small shuffle partitions of these aggregations
    // on its own — no manual coalesce (which would collapse the agg's
    // compute parallelism too)
    val perDoc = batch.groupBy("doc_id")
      .agg(count(lit(1)).as("len"),
        transform(array_sort(collect_list(struct(col("tok"), col("code")))),
          x => x.getField("code")).as("codes"))
      .cache()
    put(perDoc.select("doc_id", "len"), s"$path/doclens")
    put(perDoc.select("doc_id", "codes"), s"$path/doc_codes")
    perDoc.unpersist()

    // B8: IVF posting lists, sorted and distinct (index.rs:479-508)
    val postings = batch.groupBy("code").agg(sort_array(collect_set("doc_id")).as("doc_ids"))
    Fs.rewrite(target match {
      case Fresh(_) => postings
      case Onto(ivf) =>
        ivf.join(postings.withColumnRenamed("doc_ids", "new_ids"), Seq("code"), "full_outer")
          .select(col("code"),
            sort_array(array_distinct(concat(
              coalesce(col("doc_ids"), emptyLongArray),
              coalesce(col("new_ids"), emptyLongArray)))).as("doc_ids"))
    }, s"$path/ivf")
    n
  }

  /** The manifest's corpus counts for `nDocs` docs holding `nEmb` token
    * embeddings. */
  def counts(nDocs: Long, nEmb: Long): Map[String, String] = Map(
    "num_documents" -> nDocs.toString,
    "num_embeddings" -> nEmb.toString,
    "avg_doclen" -> (if (nDocs == 0) "0" else (nEmb.toDouble / nDocs).toString))
}
