package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding vocabulary induction (Sennrich et al. 2016) —
  * tokenizer training as a corpus pipeline stage.
  *
  * Scale shape: the ONLY corpus-scale pass is the word-count aggregation
  * (partial agg → one shuffle on word). BPE merges are then learned on
  * the aggregated (word, count) table, which is per-DISTINCT-word — a
  * few million rows / tens of MB even for a 100 TB web corpus once
  * `minCount` prunes hapaxes — so the merge loop runs on the driver,
  * exactly like the union-find endgame in [[Dedup.clustersFromEdges]]:
  * collect is bounded and guarded, and the alternative (M distributed
  * passes over a MB-sized table) would be all scheduling overhead.
  *
  * Applying the learned merges is pure column arithmetic — a chain of
  * literal `replace` calls over a marker-delimited symbol stream, no UDF
  * — so tokenization stays codegen'd, row-local, and replayable by
  * another SQL engine from the inlined merge list (q101's oracle).
  * Symbols are wrapped as `<sym>` so a replace can never match across a
  * symbol boundary (the classic "xa b" ≠ "a b" hazard of the unguarded
  * string form); normalized words contain only `\w` chars, so `<`/`>`
  * are safe delimiters.
  */
object BpeTrainer {

  /** Corpus word counts: (word, n) — the one corpus-scale pass. */
  def wordCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(Dedup.wordTokens(col(textCol))).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("n"))

  /** Learn `numMerges` BPE merges from a (word, n) table. Deterministic:
    * the best pair is (max total count, then lexicographically smallest).
    * `minCount` prunes rare words before the collect; `maxVocabRows`
    * guards the driver (the scaladoc above explains why collecting the
    * DISTINCT-word table is the right call at any corpus scale).
    */
  def fitMerges(counts: DataFrame, numMerges: Int,
                minCount: Long = 1L,
                maxVocabRows: Int = 2000000): Seq[(String, String)] = {
    val pruned = counts.filter(col("n") >= minCount)
      .select(col("word").cast("string"), col("n").cast("long"))
    val rows = pruned.limit(maxVocabRows + 1).collect()
    require(rows.length <= maxVocabRows,
            s"vocabulary exceeds maxVocabRows=$maxVocabRows — raise " +
              "minCount (tokenizer training always prunes rare words)")
    var vocab: Seq[(Array[String], Long)] =
      rows.toSeq.map(r => (r.getString(0).split("").filter(_.nonEmpty),
                           r.getLong(1)))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var i = 0
    var done = false
    while (i < numMerges && !done) {
      val pairCounts =
        scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (syms, n) =>
        var j = 0
        while (j < syms.length - 1) {
          val p = (syms(j), syms(j + 1))
          pairCounts(p) = pairCounts.getOrElse(p, 0L) + n
          j += 1
        }
      }
      if (pairCounts.isEmpty) done = true
      else {
        val best = pairCounts.toSeq
          .minBy { case ((a, b), n) => (-n, a, b) }._1
        merges += best
        val merged = best._1 + best._2
        vocab = vocab.map { case (syms, n) =>
          if (syms.length < 2) (syms, n)
          else {
            val out = scala.collection.mutable.ArrayBuffer.empty[String]
            var j = 0
            while (j < syms.length) {
              if (j < syms.length - 1 && syms(j) == best._1 &&
                  syms(j + 1) == best._2) {
                out += merged; j += 2
              } else { out += syms(j); j += 1 }
            }
            (out.toArray, n)
          }
        }
        i += 1
      }
    }
    merges.toSeq
  }

  /** Persist a fitted merge list as a tiny ordered table — the
    * train-once/apply-daily contract (same pattern as the LM and index
    * stores: a tokenizer fitted on yesterday's corpus tokenizes every
    * later batch identically, across sessions).
    */
  def save(spark: org.apache.spark.sql.SparkSession,
           merges: Seq[(String, String)], name: String): Unit = {
    import spark.implicits._
    IndexStore.savePlainArtifact(
      merges.zipWithIndex
        .map { case ((a, b), i) => (i, a, b) }
        .toDF("merge_idx", "left", "right"),
      s"${name}_merges")
  }

  /** Load a persisted merge list in fit order. */
  def load(spark: org.apache.spark.sql.SparkSession,
           name: String): Seq[(String, String)] =
    IndexStore.loadPlainArtifact(spark, s"${name}_merges")
      .orderBy("merge_idx")
      .collect().toSeq
      .map(r => (r.getString(1), r.getString(2)))

  def drop(spark: org.apache.spark.sql.SparkSession, name: String): Unit =
    IndexStore.dropArtifact(spark, s"${name}_merges")

  /** The marker-delimited symbol stream of one word: "ab" → "<a> <b>". */
  private def spaced(w: Column): Column =
    trim(regexp_replace(w, "(.)", "<$1> "))

  /** Apply learned merges to a WORD column: the symbol stream folded
    * through one literal `replace` per merge, then de-markered — a
    * space-joined token string ("lowest" → "low est" under the classic
    * merge list). Chain length = numMerges; all codegen'd.
    */
  def applyMergesToWord(w: Column, merges: Seq[(String, String)]): Column = {
    val stream = merges.foldLeft(spaced(w)) { case (s, (a, b)) =>
      replace(s, lit(s"<$a> <$b>"), lit(s"<$a$b>"))
    }
    replace(replace(stream, lit("<")), lit(">"))
  }

  /** Tokenize a TEXT column: normalized words, each BPE-merged, all
    * tokens concatenated in order (space-separated string — the
    * md5-comparable canonical form). Round-17: runs through the native
    * [[graft.functions.BpeApplyExpr]] kernel — one fused pass per row
    * instead of numMerges chained `replace` allocations per word
    * (measured ~2 s/query at sf0.1 on q101/q138/q170); byte-identical
    * to [[tokenStreamComposed]], which BpeTrainerSpec pins against it
    * and the oracles replay.
    */
  def tokenStream(text: Column, merges: Seq[(String, String)]): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.functions.BpeApplyExpr(
      ColumnBridge.expression(Dedup.wordTokens(text)),
      graft.functions.BpeApplyExpr.pack(merges)))
  }

  /** The composed replace-chain form of [[tokenStream]] — kept as the
    * readable / property-test twin of the native kernel and the shape
    * the DuckDB oracle replays.
    */
  private[graft] def tokenStreamComposed(text: Column,
                                         merges: Seq[(String, String)])
      : Column =
    array_join(
      transform(Dedup.wordTokens(text), w => applyMergesToWord(w, merges)),
      " ")

  /** The DuckDB replay of [[applyMergesToWord]] over a word expression —
    * for oracles (same marker scheme, same replace chain).
    */
  private[graft] def applyMergesSql(w: String,
                                    merges: Seq[(String, String)]): String = {
    val stream = merges.foldLeft(
      s"trim(regexp_replace($w, '(.)', '<\\1> ', 'g'))") {
      case (s, (a, b)) => s"replace($s, '<$a> <$b>', '<$a$b>')"
    }
    s"replace(replace($stream, '<', ''), '>', '')"
  }
}
