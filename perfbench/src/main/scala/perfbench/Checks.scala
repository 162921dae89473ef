package perfbench

/** One result row of a search: `(doc_id, score, rank)`. */
final case class Hit(docId: Long, score: Double, rank: Int)

/** Output checks. Each returns `None` when the output is right and a
  * description of the first fault otherwise; a fault counts the op as
  * failed. */
object Checks {

  private def fail(cond: Boolean, msg: => String): Option[String] = if (cond) None else Some(msg)

  /** Exactly `expected` rows, ranks 1..expected in order, scores not
    * increasing down the list. `hits` must be sorted by rank. */
  def topK(hits: Seq[Hit], expected: Int): Option[String] =
    fail(hits.size == expected, s"${hits.size} rows, expected $expected")
      .orElse(fail(hits.map(_.rank) == (1 to expected), s"ranks ${hits.map(_.rank).mkString(",")}"))
      .orElse(hits.sliding(2).collectFirst {
        case Seq(a, b) if b.score > a.score =>
          s"score rises from ${a.score} (rank ${a.rank}) to ${b.score} (rank ${b.rank})"
      })

  /** Every hit satisfies `pred` (a filtered search's predicate). */
  def allMatch(hits: Seq[Hit], pred: Long => Boolean, what: String): Option[String] =
    hits.find(h => !pred(h.docId)).map(h => s"doc ${h.docId} fails $what")

  /** Every keyword hit's text contains one of the query terms. */
  def keywordHits(hits: Seq[Hit], termsOf: Long => Set[String], query: Seq[String]): Option[String] =
    hits.find(h => !query.exists(termsOf(h.docId))).map(h =>
      s"doc ${h.docId} has none of ${query.mkString(",")}")

  /** Two rankings agree `(doc_id, rank)` for `(doc_id, rank)`. */
  def sameRanking(a: Seq[Hit], b: Seq[Hit]): Option[String] = {
    val x = a.map(h => (h.docId, h.rank))
    val y = b.map(h => (h.docId, h.rank))
    fail(x == y, s"rankings differ: ${x.take(5)} vs ${y.take(5)}")
  }

  def count(actual: Long, expected: Long, what: String): Option[String] =
    fail(actual == expected, s"$what: $actual, expected $expected")

  /** None of `returned` keys is in `deleted`. */
  def noneDeleted(returned: Seq[String], deleted: Set[String]): Option[String] =
    returned.find(deleted).map(k => s"deleted doc $k returned by search")

  /** Exact dedup removed exactly the planted copies. */
  def removedExactly(removed: Set[Long], planted: Set[Long]): Option[String] =
    fail(removed == planted,
      s"removed ${removed.size} docs, planted ${planted.size} copies; " +
        s"extra ${(removed -- planted).take(5)}, missed ${(planted -- removed).take(5)}")

  /** Every family's members share one cluster id. */
  def oneClusterEach(clusterOf: Long => Long, families: Seq[Seq[Long]]): Option[String] =
    families.find(f => f.map(clusterOf).distinct.size != 1).map(f =>
      s"family ${f.mkString(",")} split over clusters ${f.map(clusterOf).distinct.mkString(",")}")
}
