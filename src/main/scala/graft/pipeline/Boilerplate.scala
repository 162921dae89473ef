package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** C4-style line-level cleaning (Raffel et al. 2020 §2.2) plus
  * corpus-level boilerplate line removal (the MassiveText/RefinedWeb
  * refinement: lines recurring across many documents are navigation /
  * footer chrome, whatever their local shape).
  *
  * Scale shape: one posexplode to (doc, pos, line), line rules as pure
  * codegen'd projections, ONE distinct-doc df count keyed by the 60-bit
  * line hash (map-side combined), one co-partitioned join back on that
  * hash, and a per-doc rollup whose state is bounded by document size.
  * No self-joins, no windows over the corpus; the df side of the join
  * is one row per distinct line hash (skew on a hot boilerplate line
  * lands on the probe side only, which AQE's skew split absorbs).
  */
object Boilerplate {

  /** Per-document C4 clean over newline-separated text.
    *
    * Line keep rules (C4): the trimmed line ends in a terminal
    * punctuation mark (`. ! ? "` or the closing curly quote) AND has at
    * least `minLineWords` words AND does not mention javascript
    * (case-insensitive). Corpus rule: a kept-eligible line whose
    * normalized (lowercased, whitespace-collapsed) hash occurs in more
    * than `maxLineDf` distinct documents is boilerplate and is dropped
    * everywhere. Page rules (C4 drops the whole page): any "lorem
    * ipsum", any `{`, or fewer than `minKeptLines` surviving lines —
    * reported as `page_pass` with the cleaned text, so callers filter
    * on the flag.
    *
    * Output: `(doc_id, clean_text, n_lines, n_kept, n_dropped_rule,
    * n_dropped_boiler, page_pass)`; `clean_text` is the kept lines
    * re-joined with newlines in original order ('' when none survive).
    */
  def c4Clean(docs: DataFrame, idCol: String, textCol: String,
      minLineWords: Int = 5, maxLineDf: Int = 2,
      minKeptLines: Int = 3): DataFrame = {
    val lines = docs
      .select(col(idCol).as("doc_id"), col(textCol).as("_t"))
      .select(col("doc_id"), lower(col("_t")).contains("lorem ipsum").as("has_lorem"),
        col("_t").contains("{").as("has_brace"),
        posexplode(split(col("_t"), "\n")).as(Seq("pos", "line")))
      .withColumn("lt", trim(col("line")))
      .withColumn("rule_keep",
        col("lt").rlike("[.!?\"”]$") &&
          size(expr("regexp_extract_all(lower(lt), '[a-z0-9]+', 0)")) >= minLineWords &&
          !lower(col("lt")).contains("javascript"))
      .withColumn("lh", Dedup.hash60(Dedup.normText(col("lt")), lit(0)))
      // the raw `line` column is never read past the trim — drop it so
      // the checkpoint below stores one copy of the text, not two
      .drop("line")
      // `lines` feeds the boilerplate-df rollup AND the join probe with
      // non-identical exchange subtrees ReuseExchange cannot dedupe —
      // without a barrier the regex-heavy projection (rlike +
      // regexp_extract_all + posexplode) runs once per consumer.
      // localCheckpoint materializes it once (the dupspans/simhash r19
      // pattern); interleaved A/B at sf0.1 (OPTIMIZATION_r20 `c4clean`,
      // hash-identical, 5000 rows): wins all 4 reps, 1.58 -> 1.26 s
      // warm, 2.77 -> 1.69 s cold.
      .localCheckpoint()
    // boilerplate df: distinct docs per normalized line hash, counted
    // over rule-eligible lines only (a dropped nav line shouldn't
    // poison a legitimate sentence that happens to share its text)
    val df = lines.filter(col("rule_keep"))
      .select("lh", "doc_id").distinct()
      .groupBy("lh").agg(count(lit(1)).as("line_df"))
    lines
      .join(df, Seq("lh"), "left")
      .withColumn("keep",
        col("rule_keep") && coalesce(col("line_df"), lit(0L)) <= maxLineDf)
      .groupBy("doc_id")
      .agg(
        coalesce(concat_ws("\n",
          expr("transform(array_sort(collect_list(CASE WHEN keep THEN struct(pos, lt) END)), x -> x.lt)")),
          lit("")).as("clean_text"),
        count(lit(1)).as("n_lines"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(!col("rule_keep"), 1L).otherwise(0L)).as("n_dropped_rule"),
        sum(when(col("rule_keep") && !col("keep"), 1L).otherwise(0L))
          .as("n_dropped_boiler"),
        (!first(col("has_lorem")) && !first(col("has_brace"))).as("_pp"))
      .withColumn("page_pass", col("_pp") && col("n_kept") >= minKeptLines)
      .select("doc_id", "clean_text", "n_lines", "n_kept",
        "n_dropped_rule", "n_dropped_boiler", "page_pass")
  }
}
