package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * token statistics, quality scoring, language-ID, fingerprinting.
  * Everything is a pure column expression where possible (codegen'd);
  * the two genuinely-custom pieces (lang-id, rolling-hash fingerprint)
  * are deterministic Scala UDFs over a single string column.
  */
object TextOps {

  /** Quality features per document: length, token stats, punctuation and
    * uppercase ratios, and a composite [0,1] score. Deterministic. */
  def qualityFeatures(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val toks = (length(t) - length(regexp_replace(t, " ", "")) + 1).cast("double")
    val punct = (length(t) - length(regexp_replace(t, "[\\p{Punct}]", ""))).cast("double")
    val upper = (length(t) - length(regexp_replace(t, "[A-Z]", ""))).cast("double")
    val len = length(t).cast("double")
    df.withColumn("n_tokens", toks.cast("int"))
      .withColumn("avg_token_len", round(len / greatest(toks, lit(1.0)), 4))
      .withColumn("punct_ratio", round(punct / greatest(len, lit(1.0)), 4))
      .withColumn("upper_ratio", round(upper / greatest(len, lit(1.0)), 4))
      .withColumn("quality_score", round(
        lit(1.0)
          - least(lit(0.5), punct / greatest(len, lit(1.0)) * 2)
          - least(lit(0.3), upper / greatest(len, lit(1.0)))
          - when(len < 20, 0.4).when(len < 100, 0.1).otherwise(0.0), 4))
  }

  /** Tiny per-language marker profiles (top function words). Deterministic
    * n-gram/stopword heuristic — the Spark-side plumbing is the point; a
    * production model would slot into the same signature. */
  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq(" the ", " and ", " of ", " to ", " is "),
    "de" -> Seq(" der ", " und ", " die ", " ist ", " das "),
    "fr" -> Seq(" le ", " et ", " la ", " est ", " les "),
    "es" -> Seq(" el ", " y ", " la ", " es ", " los "),
    "zh" -> Seq("的", "是", "了", "在", "我"),
  )

  /** Language-ID: marker-hit scoring, ties broken by profile order,
    * fallback "und". Pure function of the text. Marker counting is
    * NON-overlapping (replace-and-measure semantics) so the operator has
    * an exact ANSI-SQL oracle: (len(s)-len(replace(s,m,'')))/len(m). */
  def langIdOf(text: String): String = {
    val padded = " " + text.toLowerCase + " "
    val scores = langMarkers.map { case (lang, ms) =>
      lang -> ms.map(m => countOccurrences(padded, m)).sum
    }
    val best = scores.maxBy(_._2)
    if (best._2 == 0) "und" else best._1
  }

  private def countOccurrences(s: String, sub: String): Int = {
    var c = 0; var i = s.indexOf(sub)
    while (i >= 0) { c += 1; i = s.indexOf(sub, i + sub.length) }
    c
  }

  /** Language-ID as a PURE COLUMN EXPRESSION — identical semantics to
    * [[langIdOf]] (non-overlapping marker counts via replace-and-measure,
    * first-max tie-break in profile order), but the kernel stays inside
    * whole-stage codegen instead of paying per-row UDF dispatch (VERDICT
    * r3 #4: the DuckDB oracle was the constructive proof a column form
    * exists; this is that form ported back). OpsSpec property-checks
    * column ≡ function on generated texts. */
  def langIdCol(text: Column): Column = {
    val s = concat(lit(" "), lower(text), lit(" "))
    val total = length(s)
    // LITERAL replace, not regexp_replace: the 25 marker counts each scan
    // the string, and regex machinery made the column form 17× slower
    // than the UDF it replaced (measured r4) — StringReplace is a plain
    // codegen'd substring scan, same non-overlapping semantics
    def markerCount(marker: String): Column =
      ((total - length(replace(s, lit(marker), lit("")))) /
        lit(marker.length)).cast("int")
    val scores = langMarkers.map { case (lang, ms) =>
      lang -> ms.map(markerCount).reduce(_ + _)
    }
    val byLang = scores.toMap
    val allZero = greatest(scores.map(_._2): _*) === 0
    // first-max in profile order: lang_i wins iff score_i >= every LATER
    // score (earlier langs already failed their own >= chain)
    val langs = scores.map(_._1)
    val best = langs.zipWithIndex.init.foldRight(lit(langs.last)) {
      case ((lang, i), elseExpr) =>
        val laterMax = greatest(
          (langs.drop(i + 1).map(byLang) :+ lit(0).cast("int")): _*)
        when(byLang(lang) >= laterMax, lang).otherwise(elseExpr)
    }
    // NULL text → NULL (matching langIdOf/LangId64's null-safe eval): every
    // when() condition above is null on null input, so without this guard
    // the fold would fall through to lit(langs.last) — ADVICE r4
    when(text.isNull, lit(null).cast("string"))
      .otherwise(when(allZero, "und").otherwise(best))
  }

  /** Rolling-hash document fingerprint: Karp-Rabin over character k-grams,
    * winnowed to the minimum hash in each window — robust to small edits,
    * equal fingerprints ⇒ likely near-identical prefixes of content. */
  def fingerprintOf(text: String, k: Int = 8, window: Int = 16): Long = {
    if (text.length < k) return text.hashCode.toLong
    val B = 1000000007L
    var pow = 1L
    (1 until k).foreach(_ => pow = pow * B)
    var h = 0L
    val hashes = new Array[Long](text.length - k + 1)
    var i = 0
    while (i < text.length) {
      h = h * B + text.charAt(i)
      if (i >= k) h -= pow * B * text.charAt(i - k)
      if (i >= k - 1) hashes(i - k + 1) = h
      i += 1
    }
    // winnow: xor of per-window minima (order-insensitive digest)
    var acc = 0L
    var w = 0
    while (w + window <= hashes.length) {
      var m = Long.MaxValue
      var j = w
      while (j < w + window) { if (hashes(j) < m) m = hashes(j); j += 1 }
      acc ^= java.lang.Long.rotateLeft(m, (w / window) % 64)
      w += window
    }
    if (acc == 0L) hashes(0) else acc
  }
}
