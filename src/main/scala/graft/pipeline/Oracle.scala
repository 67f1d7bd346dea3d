package graft.pipeline

import graft.corpus.ImageRow
import graft.functions.{LangId, Perplexity, Scrubber}

/** Reference-label oracle (FIXTURES.md F2): the same keep/drop + scrub
  * decision computed row-by-row in plain Scala, no Spark — playing the role
  * of the reference's expected validation outcomes (SURVEY §7.2 M0). The
  * engine's F1 and exact-caption-match are measured against THIS.
  *
  * It deliberately shares the model objects ([[LangId]], [[Perplexity]],
  * [[Scrubber]]) with the engine but re-implements the *heuristics* and the
  * rule sequencing independently (java.util.regex here == Spark's regexp
  * engine, so the two paths are semantically comparable yet separately
  * coded — a real consistency check, not a tautology, for everything outside
  * the shared model scoring).
  */
object Oracle {

  final case class Expected(
      image_id: String,
      keep: Boolean,
      drop_reason: String, // null when keep
      scrubbed_caption: String, // null when dropped
      scrub_counts: Map[String, Int])

  private def tokens(s: String): Array[String] = s.split("\\s+").filter(_.nonEmpty)

  private val symbolRe = java.util.regex.Pattern.compile("[^A-Za-z0-9 \\t\\n\\r]")

  /** First failing rule name in the canonical order of
    * [[QualityFilter.runDF]]; None = keep. NULL-valued predicates fail (the
    * engine's strict-null contract, [[graft.rules.Rule]]).
    */
  def dropReason(r: ImageRow, cfg: FilterConfig): Option[String] = {
    val cap = r.caption
    // missing = null or tokenless (only \s chars) — token-based so the
    // definition is identical across engine paths and the oracle
    val capBlank = cap == null || tokens(cap).isEmpty
    if (capBlank) return Some("caption_missing")
    if (!(cap.length >= cfg.minCaptionLen && cap.length <= cfg.maxCaptionLen))
      return Some("caption_length")
    val toks = tokens(cap)
    if (toks.length < cfg.minTokens) return Some("caption_few_tokens")
    val distinctRatio = toks.distinct.length.toDouble / toks.length.toDouble
    if (!(distinctRatio >= cfg.minDistinctTokenRatio)) return Some("caption_repetitive")
    val symbols = cap.length - symbolRe.matcher(cap).replaceAll("").length
    val symbolRatio = symbols.toDouble / cap.length.toDouble
    if (!(symbolRatio <= cfg.maxSymbolRatio)) return Some("caption_symbolic")
    if (hasCharRun(cap, cfg.maxCharRun)) return Some("caption_char_run")
    if (!(r.w >= cfg.minDim && r.w <= cfg.maxDim && r.h >= cfg.minDim && r.h <= cfg.maxDim))
      return Some("image_dims")
    if (!(math.max(r.w, r.h) <= cfg.maxAspect.toLong * math.min(r.w, r.h)))
      return Some("image_aspect")
    if (!cfg.allowedFormats.contains(r.fmt)) return Some("image_fmt")
    val (lang, conf) = LangId.predict(cap)
    if (!(conf >= cfg.minLangConf && cfg.allowedLangs.contains(lang)))
      return Some("lang_unknown")
    val ppl = Perplexity.score(cap)
    if (!(ppl <= cfg.maxPerplexity)) return Some("high_perplexity")
    None
  }

  private def hasCharRun(s: String, n: Int): Boolean = {
    var run = 1
    var i = 1
    while (i < s.length) {
      if (s.charAt(i) == s.charAt(i - 1)) { run += 1; if (run >= n) return true }
      else run = 1
      i += 1
    }
    false
  }

  def label(r: ImageRow, cfg: FilterConfig = FilterConfig()): Expected =
    dropReason(r, cfg) match {
      case Some(reason) => Expected(r.image_id, keep = false, reason, null, null)
      case None =>
        Expected(r.image_id, keep = true, null,
          Scrubber.scrubScala(r.caption), Scrubber.scrubCountsScala(r.caption))
    }
}
