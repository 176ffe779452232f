package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for large-scale training-data pipelines:
  * language ID (stopword-profile heuristic), quality scoring, token
  * counting, document fingerprinting.
  *
  * Everything here is a pure `Column` expression over built-in functions —
  * whole-stage-codegen'd, no UDFs, no driver round-trips — so each operator
  * is a single scan at any scale.
  */
object TextAnalysis {

  /** Whitespace tokens, lowercased, punctuation-stripped. */
  def tokens(text: Column): Column =
    filter(split(lower(text), "[^\\p{L}\\p{Nd}']+"), t => length(t) > 0)

  def tokenCount(text: Column): Column = size(tokens(text))

  /** Tiny per-language stopword profiles (top function words — public
    * linguistic knowledge). Deliberately small: language ID over n-gram or
    * stopword profiles is a coverage race, and for pipeline filtering a
    * ~40-word profile per language is the standard cheap heuristic.
    */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that", "it",
      "for", "was", "on", "are", "as", "with", "his", "they", "at", "be",
      "this", "have", "from", "or", "had", "by", "not", "but", "what"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ich", "nicht", "ein",
      "eine", "mit", "für", "auf", "des", "dem", "den", "zu", "von", "sich",
      "im", "aus", "auch", "es", "sind", "wird", "bei", "einer", "um"),
    "fr" -> Seq("le", "la", "les", "de", "des", "et", "est", "un", "une",
      "du", "que", "qui", "dans", "pour", "pas", "sur", "au", "avec", "ce",
      "il", "ne", "se", "plus", "par", "mais", "ou", "nous", "vous"),
    "es" -> Seq("el", "la", "los", "las", "de", "y", "es", "un", "una",
      "en", "que", "del", "se", "por", "con", "para", "su", "al", "lo",
      "como", "más", "pero", "sus", "le", "ya", "o", "este", "sí"),
    "zh" -> Seq("的", "了", "是", "我", "不", "在", "人", "有", "他",
      "这", "上", "着", "们", "来", "到", "时", "大", "地", "为", "子"))

  /** Stopword-profile language ID: score = stopword hits per language,
    * argmax via struct-ordered `greatest`; "und" (undetermined) when no
    * profile hits. For zh (no whitespace) the profile hits via substring
    * containment instead of token equality.
    */
  def langId(text: Column): Column = langIdScored(text, tokens(text))

  /** As [[langId]] but over a pre-materialized tokens column: the token
    * array is referenced once per non-zh profile, and interpreted HOFs do
    * no common-subexpression elimination — putting `toks` in its own
    * projection tokenizes once instead of once per language (see the
    * gramArray note in [[graft.dedup.Dedup]]).
    */
  def langIdScored(text: Column, toks: Column): Column = {
    val scored = stopwords.toSeq.sortBy(_._1).map { case (lang, words) =>
      val score =
        if (lang == "zh")
          words.map(w => when(contains(text, lit(w)), 1).otherwise(0))
            .reduce(_ + _)
        else
          size(filter(toks, t => t.isInCollection(words)))
      struct(score.cast("int").as("score"), lit(lang).as("lang"))
    }
    val best = greatest(scored: _*)
    when(best.getField("score") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** Quality metrics: char/token counts, mean token length, punctuation
    * ratio, stopword ratio, and a composite [0,1] score (the usual
    * heuristic gates: reasonable length, word-like tokens, some function
    * words, not punctuation soup).
    */
  def quality(text: Column): Column = {
    val enStops = stopwords("en")
    // ONE pass over ONE tokenizer evaluation: token count, total token
    // length and stopword hits fold together in a struct accumulator.
    // Interpreted HOFs (CodegenFallback) do no common-subexpression
    // elimination, so the previous shape — size/aggregate/filter each
    // referencing tokens(text), and the derived ratios referenced again
    // by the score terms — re-ran the regex tokenizer ~a dozen times per
    // row. Every output value is bit-identical: the same integer counts
    // feed the same double divisions.
    val tokStats = aggregate(tokens(text),
      struct(lit(0L).as("n"), lit(0L).as("len"), lit(0L).as("stop")),
      (acc, t) => struct(
        (acc.getField("n") + lit(1L)).as("n"),
        (acc.getField("len") + length(t)).as("len"),
        (acc.getField("stop") +
          when(t.isInCollection(enStops), lit(1L)).otherwise(lit(0L))).as("stop")))
    // bind the fold result (and the two char counts) to a lambda variable
    // via a 1-element transform: downstream references are variable reads,
    // never re-evaluations of the fold
    val bound = struct(
      length(text).as("chars"),
      (length(text) - length(regexp_replace(text, "[\\p{Punct}]", ""))).as("punct"),
      tokStats.as("ts"))
    element_at(transform(array(bound), r => {
      val chars = r.getField("chars")
      val nTok = r.getField("ts").getField("n")
      val meanTokLen = when(nTok > 0,
        r.getField("ts").getField("len").cast("double") / nTok)
        .otherwise(lit(0.0))
      val punctRatio = when(chars > 0, r.getField("punct").cast("double") / chars)
        .otherwise(0.0)
      val stopRatio = when(nTok > 0,
        r.getField("ts").getField("stop").cast("double") / nTok)
        .otherwise(0.0)
      val lenOk = when(chars.between(20, 100000), 1.0).otherwise(0.0)
      val tokOk = when(meanTokLen.between(2.0, 12.0), 1.0).otherwise(0.0)
      val punctOk = when(punctRatio < 0.2, 1.0).otherwise(0.0)
      val score = (lenOk + tokOk + punctOk + least(stopRatio * 5, lit(1.0))) / 4.0
      struct(
        chars.cast("long").as("chars"),
        nTok.as("tokens"),
        meanTokLen.as("mean_token_len"),
        punctRatio.as("punct_ratio"),
        stopRatio.as("stop_ratio"),
        score.as("quality"))
    }), 1)
  }

  /** 64-bit content fingerprint over normalized text (whitespace collapsed,
    * lowercased) — exact-dup detection key.
    */
  def fingerprint(text: Column): Column =
    xxhash64(lower(regexp_replace(trim(text), "\\s+", " ")))
}
