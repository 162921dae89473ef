package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fuzzy (edit-distance ≤ 1) string self-join — the typo-tolerant
  * match primitive (FastSS / SymSpell deletion neighborhoods): two
  * strings are candidates iff they share a member of their deletion
  * neighborhood `D(s) = {s} ∪ {s with one char deleted}`, so the join
  * is an EQUI-join on neighborhood keys — never the all-pairs
  * `levenshtein(a, b) <= 1` cross product, which is quadratic and
  * unplannable at scale. Shared-key candidates are then verified with
  * the builtin `levenshtein` (codegen'd; identical classic semantics
  * in Spark and DuckDB, checked before use) — the neighborhood
  * over-generates (e.g. "ab"/"ba" share {"a","b"} at distance 2), the
  * verify is exact.
  *
  * Scale shape: fan-out is `len+1` keys per string (bounded by
  * `maxLen`); the join shuffles on the key; hot keys (short strings'
  * deletions collapse badly — "at"/"it"/"at" all emit "t") are handled
  * by `minLen` (don't fuzzy-join 2-char tokens; their neighborhoods
  * are meaningless anyway) plus a hard per-key occupancy cap that
  * DROPS oversized buckets loudly-in-the-output rather than silently
  * going quadratic — the same guard discipline as the LSH bucket join
  * (`Dedup.candidatePairs`).
  *
  * The variant generation is posexplode-shaped (explode a position
  * sequence, then a codegen'd substring concat) — NOT
  * `transform(sequence, λ)`, whose lambda body evaluates interpreted
  * (measured 8× on the n-gram pipeline; see NGrams).
  */
object Fuzzy {

  /** All unordered pairs of distinct values of `tokCol` at edit
    * distance exactly 1 (equal strings are not pairs), as
    * `(tok_a, tok_b)` with `tok_a < tok_b`.
    *
    * @param minLen    shortest string to consider (shorter strings'
    *                  deletion neighborhoods are too dense to mean
    *                  anything); must be ≥ 2
    * @param maxLen    fan-out bound: longer strings are skipped
    * @param maxBucket per-deletion-key occupancy cap; hotter keys are
    *                  dropped (capped-semantics, like the LSH guard) */
  def ed1Pairs(
      df: DataFrame, tokCol: String,
      minLen: Int = 4, maxLen: Int = 64, maxBucket: Int = 1000): DataFrame = {
    require(minLen >= 2, s"minLen must be >= 2, got $minLen")
    val toks = df.select(col(tokCol).as("tok")).distinct()
      .filter(length(col("tok")).between(minLen, maxLen))
    // i = 0 keeps the string itself; i in 1..len deletes position i.
    // All projection arithmetic sits AFTER the explode where it
    // codegens; `sequence` is itself codegen'd.
    val variants = toks
      .select(col("tok"), explode(expr("sequence(0, length(tok))")).as("i"))
      .select(col("tok"), when(col("i") === 0, col("tok"))
        .otherwise(concat(
          expr("substring(tok, 1, i - 1)"),
          expr("substring(tok, i + 1, length(tok))"))).as("v"))
      .distinct() // adjacent equal chars produce identical deletions
    // bucket pairs by collect+zip-explode (the candidatePairs shape,
    // r19): ONE exchange on `v` replaces both the occupancy-cap
    // aggregation join and the bucket self-join. Interleaved A/B at
    // sf0.1 (OPTIMIZATION_r19 `fuzzy`): 1.6x warm vs the self-join, wins every
    // rep, hash-identical (1220 rows).
    // The skew cap runs as a WINDOW count over the same v-keyed
    // exchange (r20): one derivation of `variants`, one exchange, and
    // the groupBy below reuses the window's partitioning. Still
    // allocation-free in the ADVICE-r19 sense — WindowExec buffers a
    // hot key's ROWS with disk spill, never an aggregation-buffer
    // array, and the filter drops the bucket before collect_list sees
    // it. The first r20 shape (count prepass + left_semi, the
    // candidatePairs guard) kept the same semantics but its semi
    // broadcast side re-derived the whole deletion-variant subtree
    // (the plan showed `variants` twice); interleaved A/B fuzzy3 vs
    // that shape: wins all 4 reps, 1.95 -> 1.06 s warm,
    // hash-identical (1220 rows).
    variants
      .withColumn("_n",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("v")))
      .filter(col("_n").between(2, maxBucket))
      .groupBy("v").agg(sort_array(collect_list("tok")).as("ts"))
      .select(explode(expr(
        "transform(sequence(0, size(ts) - 2), " +
          "i -> struct(ts[i] AS ta, slice(ts, i + 2, size(ts)) AS rest))")).as("e"))
      .select(col("e.ta").as("tok_a"), explode(col("e.rest")).as("tok_b"))
      .distinct()
      .filter(levenshtein(col("tok_a"), col("tok_b")) === 1)
  }
}
