package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * language ID, quality scoring, token counting, document fingerprinting.
  * All pure Catalyst expressions — row-local, zero shuffle, full
  * whole-stage codegen; at 100 TB these run at scan speed.
  */
object TextAnalysis {

  /** Whitespace token count. */
  def wsTokenCount(text: Column): Column =
    size(split(trim(text), "\\s+"))

  /** BPE-ish token count: word pieces + standalone punctuation, the classic
    * GPT-2-style pre-tokenizer shape (contractions, letter runs, digit
    * runs, punctuation runs) — a cheap regexp_count, not a real BPE merge.
    */
  def bpeishTokenCount(text: Column): Column =
    regexp_count(text, lit("'[a-z]+|[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+"))

  /** Quality-score features + composite, the standard cheap-filter set
    * (length, punctuation ratio, stopword ratio, mean word length).
    * Composite ∈ [0,1]; thresholds are caller policy.
    */
  def punctRatio(text: Column): Column =
    regexp_count(text, lit("[^A-Za-z0-9\\s]")) /
      greatest(length(text), lit(1)).cast("double")

  private val stopwords = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "that",
    "was", "for", "on", "are", "as", "with", "at", "be", "this")

  /** The Gopher quality rule's stopword list (Rae et al. 2021 §A1.1:
    * "contains at least 2 of ..."). Exposed for the quality gate and its
    * SQL oracle.
    */
  private[graft] val gopherStopwords = Seq(
    "the", "be", "to", "of", "and", "that", "have", "with")

  /** Fraction of whitespace tokens that are common-English stopwords —
    * natural prose scores ~0.2-0.5, keyword spam / boilerplate ~0.
    */
  def stopwordRatio(text: Column): Column = {
    val toks = split(lower(trim(text)), "\\s+")
    val hits = size(filter(toks, t => t.isin(stopwords: _*)))
    hits / greatest(size(toks), lit(1)).cast("double")
  }

  /** Composite quality score ∈ [0,1]: rewards doc length up to ~200 chars,
    * some stopword presence, and penalizes punctuation soup. Deterministic
    * arithmetic — SQL-expressible for the oracle.
    */
  def qualityScore(text: Column): Column = {
    val lenScore  = least(length(text).cast("double") / 200.0, lit(1.0))
    val stopScore = least(stopwordRatio(text) * 4.0, lit(1.0))
    val punctPen  = greatest(lit(1.0) - punctRatio(text) * 4.0, lit(0.0))
    round((lenScore + stopScore + punctPen) / 3.0, 4)
  }

  /** Language-ID heuristic: per-language stopword hit counting over
    * lowercase tokens, argmax wins, ties broken alphabetically, no hits →
    * "und". N-gram-free but the same shape as fastText-style voting;
    * row-local and codegen'd.
    */
  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu",
                "mit", "den"),
    "en" -> Seq("the", "and", "is", "of", "to", "in", "that", "it", "was",
                "for"),
    "es" -> Seq("el", "la", "de", "que", "los", "una", "es", "por", "con",
                "para"),
    "fr" -> Seq("le", "la", "les", "des", "est", "une", "dans", "que", "et",
                "pour"))

  def langId(text: Column): Column = {
    val toks = split(lower(trim(text)), "\\s+")
    // Build votes in fixed (alphabetical) order; greatest-first fold gives
    // alphabetical tie-break because later candidates only win strictly.
    val scored = langMarkers.map { case (lang, markers) =>
      (lang, size(filter(toks, t => t.isin(markers: _*))))
    }
    val (best, _) = scored.tail.foldLeft((lit(scored.head._1), scored.head._2)) {
      case ((bl, bs), (lang, s)) =>
        (when(s > bs, lit(lang)).otherwise(bl), when(s > bs, s).otherwise(bs))
    }
    val anyHit = scored.map(_._2).reduce(_ + _) > 0
    when(anyHit, best).otherwise(lit("und"))
  }

  /** Confidence margin of [[langId]]: top-1 minus top-2 per-language
    * stopword hit counts over the same markers — 0 on argmax ties and
    * on no-hit ("und") rows, growing with how decisively one language
    * out-votes the rest. The calibration signal q242 buckets against
    * ground truth; row-local and codegen'd like [[langId]] itself.
    */
  def langIdMargin(text: Column): Column = {
    val toks = split(lower(trim(text)), "\\s+")
    val scored = langMarkers.map { case (_, markers) =>
      size(filter(toks, t => t.isin(markers: _*))) }
    val sorted = array_sort(array(scored: _*))
    element_at(sorted, -1) - element_at(sorted, -2)
  }

  /** The [[langId]]/[[langIdMargin]] vote vector factored out (round-17,
    * guide step-2 per-task work): a consumer that needs BOTH the
    * prediction and the margin used to pay the tokenize + 4
    * interpreted-filter HOF scans TWICE per row (once inside each
    * expression). Tokenize once ([[langTokens]]) into a NAMED column,
    * build the per-language vote array once ([[langVotesOfToks]], also
    * named — multiple references keep CollapseProject from inlining
    * either), then [[langIdOfVotes]]/[[langIdMarginOfVotes]] are cheap
    * element_at arithmetic over the bound attribute. Semantics are
    * pinned identical to the one-shot forms by TextAnalysisSpec.
    */
  def langTokens(text: Column): Column = split(lower(trim(text)), "\\s+")

  /** Per-language stopword votes (alphabetical language order) over a
    * NAMED token-array column. */
  def langVotesOfToks(toks: Column): Column =
    array(langMarkers.map { case (_, markers) =>
      size(filter(toks, t => t.isin(markers: _*))) }: _*)

  /** [[langId]]'s argmax/tie-break/"und" rule off a named vote vector. */
  def langIdOfVotes(votes: Column): Column = {
    val scored = langMarkers.map(_._1).zipWithIndex.map {
      case (lang, i) => (lang, element_at(votes, i + 1)) }
    val (best, _) =
      scored.tail.foldLeft((lit(scored.head._1), scored.head._2)) {
        case ((bl, bs), (lang, s)) =>
          (when(s > bs, lit(lang)).otherwise(bl),
           when(s > bs, s).otherwise(bs))
      }
    val anyHit = scored.map(_._2).reduce(_ + _) > 0
    when(anyHit, best).otherwise(lit("und"))
  }

  /** [[langIdMargin]]'s top1−top2 off a named vote vector. */
  def langIdMarginOfVotes(votes: Column): Column = {
    val sorted = array_sort(votes)
    element_at(sorted, -1) - element_at(sorted, -2)
  }

  /** Document fingerprint: md5 of whitespace-normalized lowercase text —
    * the exact-dedup key. md5 exists verbatim in DuckDB, so this is
    * oracle-checkable.
    */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " ").cast("binary"))

  /** Rolling polynomial hash (Rabin-Karp base-31 mod 1e9+7 over char
    * codes) — the content-defined-chunking primitive. Implemented with the
    * `aggregate` higher-order function over a generated index sequence:
    * row-local, no UDF, no shuffle.
    */
  def rollingHash(text: Column): Column =
    when(length(text) === 0, lit(0L)).otherwise(
      aggregate(
        transform(sequence(lit(1), length(text)),
                  i => ascii(text.substr(i, lit(1))).cast("long")),
        lit(0L),
        (acc, b) => pmod(acc * 31 + b, lit(1000000007L))))

  /** 60-bit md5-prefix hashes of every positional character k-gram of an
    * ALREADY-MATERIALIZED normalized-text column — the winnowing input
    * stream. Positional MULTISET (unlike [[Dedup.shinglesOfNorm]]'s
    * distinct set): winnowing needs the hash at every gram start. One
    * fused codegen'd loop per row ([[graft.functions.Md5Prefix60Expr]]);
    * texts shorter than k chars yield an empty array.
    */
  def gramHashes(norm: Column, k: Int = 5): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val grams = when(length(norm) < k, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), length(norm) - (k - 1)),
                           i => norm.substr(i, lit(k))))
    ColumnBridge.column(graft.functions.Md5Prefix60Expr(
      ColumnBridge.expression(grams)))
  }

  /** Winnowing fingerprint selection (Schleimer et al. 2003 — the MOSS
    * algorithm) over an ALREADY-MATERIALIZED [[gramHashes]] column:
    * slide a window of `w` consecutive gram hashes, keep each window's
    * minimum (RIGHTMOST on ties, per the paper's robust-winnowing rule),
    * and record every selected (pos, fp) once. Guarantees any shared
    * substring of ≥ w+k−1 chars contributes a matching fingerprint while
    * storing ~2/(w+1) of all gram hashes — the standard density/recall
    * dial between a single whole-doc hash ([[fingerprint]]) and
    * all-gram fingerprints ([[graft.llm.Contamination]]).
    *
    * Row-local HOFs over the named hash column (attribute reference, so
    * the md5 stream is computed once per row, per the [[Dedup
    * .shinglesOfNorm]] HOF scale note) — no UDF, no shuffle; the picks
    * replay in DuckDB from the same md5-prefix hashes. Docs with fewer
    * than w gram hashes yield no fingerprints (winnowing leaves
    * sub-window docs to exact dedup). Returns
    * `array<struct<pos:int, fp:long>>`, pos = 1-based gram start.
    */
  def winnowPicks(hs: Column, w: Int = 9): Column = {
    require(w > 0, "window size must be positive")
    def win(i: Column): Column = slice(hs, i, lit(w))
    val picks = transform(
      sequence(lit(1), size(hs) - (w - 1)),
      i => struct(
        (i + w - array_position(reverse(win(i)), array_min(win(i))))
          .cast("int").as("pos"),
        array_min(win(i)).as("fp")))
    when(size(hs) < w, array().cast("array<struct<pos:int,fp:bigint>>"))
      .otherwise(array_distinct(picks))
  }

  /** Content-defined chunking (the storage-dedup primitive of LBFS,
    * Muthitacharoen et al. SOSP 2001, re-expressed over [[gramHashes]]):
    * cut a chunk boundary after every character k-gram whose 60-bit hash
    * is ≡ 0 (mod `modulus`), close the final chunk at the doc end, and
    * fingerprint each chunk with md5. Expected chunk length ≈ `modulus`
    * chars, and — the property fixed-width splitting lacks — an edit
    * only re-keys the chunks it touches: every boundary is a function of
    * the local k chars, so downstream chunk-level dedup still matches
    * the untouched remainder of two near-identical documents.
    *
    * Operates on ALREADY-MATERIALIZED norm + hash columns (the
    * [[winnowPicks]] contract — attribute references keep the md5
    * stream computed once per row). Row-local HOFs, zero shuffle; at
    * 100 TB only the (doc_id, chunk_md5) fingerprints ride any
    * downstream exchange, never chunk text. Docs shorter than k chars
    * yield one whole-doc chunk; empty docs yield no chunks. Returns
    * `array<struct<chunk_idx:int, start:int, chunk_len:int,
    * chunk_md5:string>>`, start = 1-based char offset.
    */
  def cdcChunks(norm: Column, hs: Column, k: Int = 8,
                modulus: Int = 64): Column = {
    require(k > 0, "gram size must be positive")
    require(modulus > 0, "modulus must be positive")
    // greatest(…, 1) keeps the sequence ascending when hs is empty (a
    // sub-k doc): sequence(1, 0) would descend through index 0, which
    // element_at rejects; the spurious index 1 probes a null and drops.
    val ends0 = transform(
      filter(sequence(lit(1), greatest(size(hs), lit(1))),
             i => element_at(hs, i) % modulus.toLong === 0),
      p => p + (k - 1))
    val ends = concat(filter(ends0, e => e < length(norm)),
                      array(length(norm)))
    val starts = concat(array(lit(1)),
                        transform(slice(ends, lit(1), size(ends) - 1),
                                  e => e + 1))
    val chunks = transform(
      sequence(lit(1), size(ends)),
      j => struct(
        j.cast("int").as("chunk_idx"),
        element_at(starts, j).cast("int").as("start"),
        (element_at(ends, j) - element_at(starts, j) + 1).cast("int")
          .as("chunk_len"),
        md5(norm.substr(element_at(starts, j),
                        element_at(ends, j) - element_at(starts, j) + 1)
              .cast("binary")).as("chunk_md5")))
    when(length(norm) === 0,
         array().cast(
           "array<struct<chunk_idx:int,start:int,chunk_len:int," +
             "chunk_md5:string>>"))
      .otherwise(chunks)
  }

  /** Language-ID, character-n-gram variant: score = |text's char-trigram
    * set ∩ language trigram profile|, argmax with alphabetical tie-break.
    * Profiles are the highest-frequency trigrams of each language's
    * function words — fixed inline constants, so the vote is a pure
    * row-local expression like [[langId]]. The two heuristics complement:
    * trigram profiles catch inflected forms stopword lists miss.
    */
  private val trigramProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "ein", "ich", "sch", "che", "nde",
                "ung", "cht"),
    "en" -> Seq("the", "and", "ing", "ion", "ent", "her", "tha", "nth",
                "hat", "for"),
    "es" -> Seq("que", "los", "ent", "ado", "con", "cio", "nte", "era",
                "par", "una"),
    "fr" -> Seq("les", "ent", "des", "que", "ion", "ais", "eur", "our",
                "ait", "une"))

  /** Variant over an ALREADY-MATERIALIZED normalized-text column — the
    * form hot paths must use: the trigram lambda references `norm` per
    * element, so it must be a plain column reference (see
    * [[graft.llm.Dedup.shinglesOfNorm]]'s HOF scale note).
    */
  def langIdNgramOfNorm(norm: Column): Column = {
    val grams = when(length(norm) < 3, array(norm)).otherwise(
      array_distinct(transform(sequence(lit(1), length(norm) - 2),
                               i => norm.substr(i, lit(3)))))
    val scored = trigramProfiles.map { case (lang, profile) =>
      (lang, size(array_intersect(grams,
        array(profile.map(lit): _*))))
    }
    val (best, _) = scored.tail.foldLeft((lit(scored.head._1), scored.head._2)) {
      case ((bl, bs), (lang, s)) =>
        (when(s > bs, lit(lang)).otherwise(bl), when(s > bs, s).otherwise(bs))
    }
    val anyHit = scored.map(_._2).reduce(_ + _) > 0
    when(anyHit, best).otherwise(lit("und"))
  }

  /** Convenience form inlining the normalization — fine for specs and
    * small relations; hot paths should name the norm column and call
    * [[langIdNgramOfNorm]] (the inlined tree re-runs the regexp once per
    * trigram element).
    */
  def langIdNgram(text: Column): Column =
    langIdNgramOfNorm(regexp_replace(lower(trim(text)), "\\s+", " "))

  /** Word lists exposed for oracle-SQL construction (LlmQueries builds the
    * DuckDB twin of these heuristics from the same constants).
    */
  private[graft] def stopwordsForSql: Seq[String] = stopwords
  private[graft] def langMarkersForSql: Map[String, Seq[String]] =
    langMarkers.toMap

  /** The doc-level "bad word" list (the C4 §2.2 blocklist rule, with a
    * tame spam-marker list standing in for the published one): documents
    * whose token stream is dominated by engagement-bait/spam markers are
    * dropped however clean their structure is. Exposed for oracle SQL.
    */
  private[graft] val blockWords = Seq(
    "subscribe", "clickbait", "giveaway", "casino", "lottery", "jackpot",
    "unsubscribe", "promo", "discount", "winner")

  /** Blocklist hits over a MATERIALIZED token-array column (HOF scale
    * rule — see [[QualityFilters]]): row-local, codegen'd, zero shuffle.
    */
  def blocklistHits(toksCol: Column): Column =
    size(filter(toksCol, t => t.isin(blockWords: _*)))

  /** DEFLATE compression ratio per document — the quality signal rules
    * can't fake: templated/boilerplate text compresses far below prose,
    * and random noise barely compresses at all, so the ratio catches
    * both failure tails with one number (the Gopher-family gate several
    * published pipelines add alongside the heuristics). Row-local
    * mapPartitions with one `java.util.zip.Deflater` per partition
    * (level 6, nowrap — fixed config, byte-deterministic per JDK);
    * genuinely imperative byte work, like the media decoders. Output:
    * (id, raw_bytes, comp_bytes, ratio_ppm) with
    * ratio_ppm = comp·10⁶ div max(raw, 1) — exact integers.
    */
  def deflateRatios(df: DataFrame, idCol: String,
                    textCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { rows =>
        // one Deflater per partition, reset per row — per-row
        // construction would allocate/free native zlib state every doc.
        // end() on task completion: without it the native zlib state is
        // only reclaimed at finalization, and long-lived executors
        // running many tasks accumulate off-heap memory
        val buf = new Array[Byte](1 << 16)
        val d = new java.util.zip.Deflater(6, true)
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => d.end()))
        rows.map { case (id, text) =>
          val raw =
            if (text == null) Array.empty[Byte]
            else text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          d.reset()
          d.setInput(raw); d.finish()
          var comp = 0L
          while (!d.finished()) comp += d.deflate(buf)
          (id, raw.length.toLong, comp,
           comp * 1000000L / math.max(raw.length.toLong, 1L))
        }
      }
      .toDF("doc_id", "raw_bytes", "comp_bytes", "ratio_ppm")
  }

  /** One-call document profile over a text column. */
  def profile(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    df.withColumn("ws_tokens", wsTokenCount(t))
      .withColumn("bpeish_tokens", bpeishTokenCount(t))
      .withColumn("punct_ratio", round(punctRatio(t), 4))
      .withColumn("stopword_ratio", round(stopwordRatio(t), 4))
      .withColumn("quality", qualityScore(t))
      .withColumn("lang_pred", langId(t))
      .withColumn("fingerprint", fingerprint(t))
  }
}
