package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis scalar operators for large-scale training-data
  * pipelines: tokenization, language-ID heuristic, quality scoring and
  * document fingerprinting.
  *
  * All of these are compositions of built-in codegen'd functions (split/
  * filter/transform/aggregate/regexp) — no UDFs — so they stay inside
  * whole-stage codegen and scale as pure map-side work: at 100 TB these
  * run embedded in the scan stage with zero shuffle.
  */
object TextAnalysis {

  /** Whitespace tokenization. The fixtures are single-space separated;
    * `\s+` keeps it robust to real text. */
  def tokens(text: Column): Column = split(text, " ")

  /** Hashed bag-of-ngrams feature vector (the DSIR / fastText-style
    * "hashing trick"): every word n-gram OCCURRENCE is md5-hashed into
    * one of `dim` buckets and the vector is the per-bucket count,
    * emitted as a DENSE array<long> of length `dim`. Entirely map-side
    * — ONE codegen'd expression pass per row
    * ([[graft.plans.SketchExpressions.HashedCounts]]; an interpreted
    * HOF fold here would re-hash per (gram × dim)), no explode, no
    * shuffle — so featurizing 100 TB is exactly one scan. The
    * md5-derived bucket is the same hash the sampling operators use,
    * reproducible across engines. Compose with any linear classifier or
    * importance weighting downstream. */
  def hashedNgramFeatures(text: Column, dim: Int, n: Int = 1): Column = {
    val grams = if (n == 1) tokens(text) else ngramOccurrences(text, n)
    graft.plans.SketchExpressions.hashed_counts(grams, dim)
  }

  /** Exact fixed-point linear score for weights that are exact decimal
    * multiples of 1/scale (e.g. tenths with scale=10): the dot product
    * Σ (scale·wᵢ)·cᵢ is computed entirely in int64 over integer feature
    * counts, then divided ONCE by `scale` — a single IEEE operation that
    * is bit-identical in every engine. Avoids the rounding-boundary trap
    * of `round(Σ wᵢ·cᵢ, 6)` over a left-folded double sum (see
    * [[qualityScore]]'s note): there is no intermediate double and no
    * decimal-rounding step at all. Throws if any weight is not an exact
    * multiple of 1/scale. */
  def linearScoreFixedPoint(features: Column, weights: Seq[Double],
      scale: Long = 10L): Column = {
    val intWeights = weights.map { w =>
      val iw = math.round(w * scale)
      require(iw.toDouble / scale == w,
        s"weight $w is not an exact multiple of 1/$scale")
      iw
    }
    val sum = intWeights.zipWithIndex
      .map { case (iw, i) =>
        lit(iw) * element_at(features, i + 1).cast("long") }
      .reduceLeft(_ + _)
    sum.cast("double") / lit(scale.toDouble)
  }

  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  /** Flesch readability counts and scores as one map-side struct:
    * (n_words, n_sentences, n_syllables, fre, fk_grade) — the classic
    * corpus-quality signal a curation pipeline thresholds on (Flesch
    * 1948 reading ease, Kincaid et al. 1975 grade level; both closed
    * forms over three counts, the constants pinned from the papers —
    * the 1.959964 class). Words split on single spaces (the house
    * tokenization); sentences split on [.!?]+ runs, blank segments
    * dropped, floored at 1 so punctuation-free corpora (this repo's
    * fixtures) read as one sentence per document rather than dividing
    * by zero; syllables per word = vowel-group runs ([aeiouy]+ on the
    * lowercased word), floored at 1 — the standard heuristic, NAMED
    * approximation (true syllabification needs a dictionary; vowel
    * runs are within ~10% on English and deterministic everywhere).
    * Empty text (zero words) yields NULL scores.
    *
    * Everything is per-row array arithmetic in one projection — zero
    * exchanges, codegen-safe, mirrored verbatim in the SQL oracles. */
  def readability(text: Column): Column = {
    val ws = split(text, " ")
    val nWords = size(filter(ws, w => length(w) > 0)).cast("long")
    val nSents = greatest(lit(1L),
      size(filter(split(text, "[.!?]+"), s => length(trim(s)) > 0))
        .cast("long"))
    val nSyll = aggregate(ws,
      lit(0L), (acc, w) => acc + when(length(w) > 0,
        greatest(lit(1),
          size(regexp_extract_all(lower(w), lit("[aeiouy]+"), lit(0))))
          .cast("long")).otherwise(0L))
    val wps = nWords.cast("double") / nSents.cast("double")
    val spw = nSyll.cast("double") / nWords.cast("double")
    struct(
      nWords.as("n_words"),
      nSents.as("n_sentences"),
      nSyll.as("n_syllables"),
      when(nWords > 0,
        round(lit(206.835) - lit(1.015) * wps - lit(84.6) * spw, 6))
        .otherwise(lit(null).cast("double")).as("fre"),
      when(nWords > 0,
        round(lit(0.39) * wps + lit(11.8) * spw - lit(15.59), 6))
        .otherwise(lit(null).cast("double")).as("fk_grade"))
  }

  /** A BPE-ish sub-word count: words are split at letter/digit
    * boundaries and long words count as ceil(len/4) units — a cheap,
    * deterministic proxy for a real tokenizer's token count. */
  def subwordCount(text: Column): Column =
    aggregate(
      transform(split(text, "[^A-Za-z0-9]+"),
        w => greatest(ceil(length(w).cast("double") / 4.0), lit(1.0))),
      lit(0.0), (acc, v) => acc + v).cast("long")

  /** Stopword sets for the language-ID vote. Deliberately tiny: the
    * heuristic is the operator; swapping in real profiles is config. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "is", "to", "in"),
    "es" -> Seq("el", "la", "de", "y", "que", "en", "los"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "mit"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "un"))

  def stopwordHits(text: Column, words: Seq[String]): Column =
    size(filter(tokens(text), w => w.isin(words.map(lit): _*))).cast("long")

  /** Language-ID by stopword vote with a deterministic preference order
    * (en > es > de > fr > und) on ties; 'und' (undetermined) when no
    * stopword hits at all. */
  def langId(text: Column): Column = {
    val Seq(en, es, de, fr) =
      Seq("en", "es", "de", "fr").map(l => stopwordHits(text, stopwords(l)))
    when(en > 0 && en >= es && en >= de && en >= fr, "en")
      .when(es > 0 && es >= de && es >= fr, "es")
      .when(de > 0 && de >= fr, "de")
      .when(fr > 0, "fr")
      .otherwise("und")
  }

  /** Heuristic quality score in [0,1]: length credit (saturating at 100
    * tokens), stopword-ratio credit and alphabetic-ratio credit.
    *
    * Computed as ONE division of exact integers:
    * score = (4·min(ntok,100)·ntok·nchars + 300·nstop·nchars
    *          + 300·nalpha·ntok) / (1000·ntok·nchars)
    * which equals 0.4·min(ntok/100,1) + 0.3·nstop/ntok + 0.3·nalpha/nchars
    * exactly. Summing three separately-rounded doubles can land within
    * one ulp of a rounding boundary (observed once at sf0.1) — a single
    * integer/integer division is bit-identical across engines with no
    * rounding step at all. */
  def qualityScore(text: Column): Column = {
    val nTok = size(tokens(text)).cast("long")
    val allStop = stopwords.values.flatten.toSeq.distinct
    val nStop = stopwordHits(text, allStop)
    val nAlpha = length(regexp_replace(text, "[^a-z]", "")).cast("long")
    val nChars = length(text).cast("long")
    val num = lit(4L) * least(nTok, lit(100L)) * nTok * nChars +
      lit(300L) * nStop * nChars + lit(300L) * nAlpha * nTok
    num.cast("double") / (lit(1000L) * nTok * nChars).cast("double")
  }

  /** Content fingerprint: md5 over the sorted distinct token set —
    * invariant to token order and duplication, the canonical cheap
    * "same bag of words" key. */
  def fingerprint(text: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(tokens(text)))))

  /** Normalization for model input: lowercase, strip non-letters,
    * squeeze whitespace. The canonical first stage of a text-cleaning
    * pipeline; pure codegen'd regexps. */
  def cleanText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z ]", " "), " +", " "))

  /** Token-window chunking with stride (training-data staple: split
    * long documents into model-window-sized overlapping chunks).
    * Returns array<struct<chunk_idx,chunk_text,n_tokens>>; explode it
    * for one row per chunk. Deterministic: chunk i covers tokens
    * [i·stride, i·stride + chunkSize). */
  def chunks(text: Column, chunkSize: Int, stride: Int): Column = {
    val toks = tokens(text)
    transform(
      sequence(lit(0), greatest(size(toks) - 1, lit(0)), lit(stride)),
      start => struct(
        (start / stride).cast("int").as("chunk_idx"),
        concat_ws(" ", slice(toks, start + 1, lit(chunkSize))).as("chunk_text"),
        least(size(toks) - start, lit(chunkSize)).cast("int").as("n_tokens")))
  }

  /** NON-distinct n-gram occurrence list (order preserved) — the
    * counting companion to the dedup family's distinct shingles. */
  def ngramOccurrences(text: Column, n: Int): Column = {
    val toks = tokens(text)
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws("_", slice(toks, i, lit(n)))))
      .otherwise(array().cast("array<string>"))
  }

  /** Repetition statistics (the Gopher/C4-style quality gates):
    * `rep_token_frac` = fraction of token occurrences that are repeats
    * of an earlier token; `top_ngram_frac` = share of all n-gram
    * occurrences taken by the single most frequent n-gram. High values
    * mean boilerplate/spam.
    *
    * Fully MAP-SIDE and codegen'd: the counts come from one native
    * hash-count pass over the text
    * ([[graft.plans.TextExpressions.NgramStats]]) — no (doc, ngram)
    * shuffle (the classic explode+groupBy cost at 100 TB) and no
    * interpreted higher-order-function fold (~0.8 ms/doc measured).
    * Fractions are single integer/integer divisions, bit-reproducible
    * across engines. */
  def repetitionStats(text: Column, n: Int = 2): Column = {
    val st = graft.plans.TextExpressions.ngram_stats(text, n)
    val nTok = st.getField("n_tokens")
    val nDistinct = st.getField("n_distinct")
    val nGrams = st.getField("n_ngrams")
    val top = st.getField("top_ngram_count")
    struct(
      nTok.as("n_tokens"),
      ((nTok - nDistinct).cast("double") / nTok.cast("double")).as("rep_token_frac"),
      nGrams.as("n_ngrams"),
      top.as("top_ngram_count"),
      when(nGrams > 0, top.cast("double") / nGrams.cast("double"))
        .otherwise(lit(0.0)).as("top_ngram_frac"))
  }

  /** PII redaction patterns, ordered (applied first to last). Written
    * for the COMMON subset of java.util.regex and RE2 — character
    * classes, bounded quantifiers, \b word boundaries; no
    * backreferences or lookaround — so the DuckDB oracle replays them
    * verbatim and redacted output is byte-identical across engines. */
  val piiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "\\b\\d{3}-\\d{2}-\\d{4}\\b" -> "<SSN>",
    "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b" -> "<PHONE>",
    "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b" -> "<IP>")

  /** Scrub emails/SSNs/phones/IPv4s — the minimum-viable PII pass every
    * training corpus gets before release. Pure map-side codegen'd
    * regexp_replace chain, zero shuffle. */
  def redactPii(text: Column): Column =
    piiPatterns.foldLeft(text) { case (c, (pat, rep)) =>
      regexp_replace(c, pat, rep)
    }

  /** Consistent PSEUDONYMIZATION: every PII match is replaced by a
    * surrogate derived from the value itself (`<pii_` + 8 hex of its
    * md5 + `>`), so the same email/phone/IP maps to the SAME surrogate
    * corpus-wide. [[redactPii]]'s fixed type tags destroy coreference
    * — after redaction "Alice emailed Bob" and "Alice emailed Alice"
    * are indistinguishable, which degrades any training signal built
    * on entity repetition; the value-derived surrogate preserves the
    * repetition structure without retaining the value, and needs no
    * dictionary table to build, shuffle, or leak.
    *
    * Replacements apply LONGEST-MATCH-FIRST (matches sorted by
    * (-length, value) before the fold): one extracted match can be a
    * proper substring of another extracted elsewhere in the document
    * (`xa@b.com` contains `a@b.com`), and replacing the short one
    * first would corrupt the long one's surrogate. Entirely map-side:
    * regexp_extract_all + an in-row fold of `replace` calls — zero
    * shuffle, codegen'd. */
  def pseudonymizePii(text: Column): Column = {
    val pat = lit(piiPatterns.map(_._1).mkString("|"))
    val ordered = transform(
      sort_array(transform(array_distinct(regexp_extract_all(text, pat, lit(0))),
        m => struct((-length(m)).as("nl"), m.as("m")))),
      s => s.getField("m"))
    aggregate(ordered, text, (acc, m) =>
      replace(acc, m, concat(lit("<pii_"), substring(md5(m), 1, 8), lit(">"))))
  }

  /** Luhn checksum (ISO/IEC 7812) over a digits-only string: from the
    * RIGHTMOST digit, double every second, subtract 9 from doubles
    * above 9, and require the sum ≡ 0 (mod 10) — plus the 13..19
    * payment-card length band. The standard false-positive killer for
    * card-number PII detection: a 16-digit order id matches any digit
    * regex, but only ~1 in 10 random digit runs passes Luhn, so
    * validity-gated redaction stops destroying non-PII numerics.
    * Exact integer fold over character positions — zero shuffle,
    * replayed in SQL as a position list-sum (integer addition
    * commutes, no fold discipline needed). */
  def luhnValid(digits: Column): Column = {
    val n = length(digits)
    val s = aggregate(
      sequence(lit(1), n),
      lit(0),
      (acc, i) => {
        val d = digits.substr(n - i + 1, lit(1)).cast("int")
        val v = when(pmod(i, lit(2)) === 0,
          when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)).otherwise(d)
        acc + v
      })
    n >= 13 && n <= 19 && pmod(s, lit(10)) === 0
  }

  /** Card-number candidate pattern: 13–19 digits allowing single
    * space/dash separators (no lookaround — replays verbatim in
    * DuckDB). Normalize with [[cardDigits]] before [[luhnValid]]. */
  val cardCandidatePattern: String = "\\b(?:\\d[ -]?){12,18}\\d\\b"

  /** IBAN mod-97 validity (ISO 13616 / ISO 7064): the SECOND exact
    * checksum in the PII family ([[luhnValid]] gates card numbers;
    * this one bank accounts — both kill the regex pass's false
    * positives). The candidate must already be separator-free and
    * upper-case. Algorithm exactly as the standard: move the first 4
    * chars to the end, map A→10…Z→35, and the resulting digit string
    * ≡ 1 (mod 97). The big number never materializes: the fold keeps
    * a running remainder < 97, one `(acc·10 + digit) % 97` (or two
    * steps for a letter's two digits) per character — int32-safe, and
    * replayed in DuckDB by the same list_reduce fold. Length bound
    * 15-34 (shortest national format to the ISO max). */
  def ibanValid(iban: Column): Column = {
    val n = length(iban)
    val rearranged = concat(iban.substr(lit(5), n - 4), iban.substr(lit(1), lit(4)))
    val rem = aggregate(
      sequence(lit(1), n),
      lit(0),
      (acc, i) => {
        val c = ascii(rearranged.substr(i, lit(1)))
        // tens digit of the 2-digit letter value: integer truncation
        // of an exact small ratio (10..35 over 10) — Column `/` is
        // double division, so cast back to int explicitly
        val tens = ((c - 55) / 10).cast("int")
        when(c >= 65 && c <= 90, // letter -> two digits 10..35
          pmod(pmod(acc * 10 + tens, lit(97)) * 10 +
            pmod(c - 55, lit(10)), lit(97)))
          .otherwise(pmod(acc * 10 + (c - 48), lit(97)))
      })
    n >= 15 && n <= 34 &&
      iban.substr(lit(1), lit(2)).rlike("^[A-Z]{2}$") &&
      // ISO 13616 check digits: positions 3-4 MUST be digits — without
      // this gate a malformed candidate with letters there ('DEXX...')
      // still folds and passes mod-97 with probability ~1/97
      iban.substr(lit(3), lit(2)).rlike("^[0-9]{2}$") && rem === 1
  }

  /** IBAN candidate pattern: two country letters + 2 check digits +
    * 11-30 alphanumerics (no lookaround — replays in DuckDB). */
  val ibanCandidatePattern: String = "\\b[A-Z]{2}\\d{2}[A-Z0-9]{11,30}\\b"

  /** Strip the separators a card candidate may carry. */
  def cardDigits(m: Column): Column =
    regexp_replace(m, "[ -]", "")

  /** Deterministic page-layout synthesis for the line-level quality
    * rules: the fixtures are single-line word soup, so bullet/ellipsis/
    * terminal-punctuation signals would never fire on them. Both
    * engines derive the SAME structured page — lines of `lineLen`
    * words; line i bulleted when (doc_id+i) % bulletMod == 0, suffixed
    * '...' when (doc_id+i) % ellipsisMod == 3, terminal '.' otherwise —
    * so the rules are exercised on realistic shapes while staying
    * hash-exact (same q_pii_redact discipline: the operator handles
    * arbitrary text; the query feeds it a reproducible document). */
  def decoratePage(text: Column, docId: Column, lineLen: Int = 8,
      bulletMod: Int = 5, ellipsisMod: Int = 7): Column = {
    val toks = tokens(text)
    // start positions 0, lineLen, 2·lineLen … (same trick as [[chunks]]:
    // sequence-by-stride avoids Spark's double-typed integer division)
    val lines = transform(
      sequence(lit(0), greatest(size(toks) - 1, lit(0)), lit(lineLen)),
      st => {
        val i = (st / lineLen).cast("long") // exact: st is a multiple
        val line = concat_ws(" ", slice(toks, st + 1, lit(lineLen)))
        when(pmod(docId + i, lit(bulletMod)) === 0, concat(lit("- "), line))
          .when(pmod(docId + i, lit(ellipsisMod)) === 3,
            concat(line, lit("...")))
          .otherwise(concat(line, lit(".")))
      })
    concat_ws("\n", lines)
  }

  /** Gopher-style quality signals (Rae et al. 2021, §A1.1) over a
    * multi-line page: word count, mean word length, alphabetic-word
    * fraction, stopword hits, bullet-line and ellipsis-line fractions,
    * plus the composite pass verdict. Every fraction is ONE division of
    * two exact longs (bit-reproducible; see [[qualityScore]]'s note on
    * why summed-rounded doubles are a trap), and the verdict compares
    * those exact divisions against literals — identical in any engine.
    * Pure map-side; at 100 TB this is a scan-embedded gate. */
  def gopherSignals(page: Column): Column = {
    val lines = split(page, "\n")
    val words = split(page, "[ \n]")
    val nWords = size(words).cast("long")
    val sumLen = aggregate(
      transform(words, w => length(w).cast("long")), lit(0L), _ + _)
    // Gopher's rule is '>=1 ALPHABETIC character' — either case, so
    // acronyms and capitalized nouns count (oracle mirrors the class).
    val nAlphaW = size(filter(words, w => w.rlike("[a-zA-Z]"))).cast("long")
    val allStop = stopwords.values.flatten.toSeq.distinct
    val nStop = size(filter(words, w => w.isin(allStop.map(lit): _*)))
      .cast("long")
    val nLines = size(lines).cast("long")
    val nBullet = size(filter(lines, l => l.like("- %"))).cast("long")
    val nEllip = size(filter(lines, l => l.like("%..."))).cast("long")
    val meanWl = sumLen.cast("double") / nWords.cast("double")
    val fracAlpha = nAlphaW.cast("double") / nWords.cast("double")
    val fracBullet = nBullet.cast("double") / nLines.cast("double")
    val fracEllip = nEllip.cast("double") / nLines.cast("double")
    struct(
      nWords.as("n_words"),
      meanWl.as("mean_word_len"),
      fracAlpha.as("frac_alpha_words"),
      nStop.as("n_stopword_hits"),
      nLines.as("n_lines"),
      fracBullet.as("frac_bullet_lines"),
      fracEllip.as("frac_ellipsis_lines"),
      (nWords >= 25 && meanWl >= 3.0 && meanWl <= 4.7 &&
        fracAlpha >= 0.75 && nStop >= 2 &&
        fracBullet <= 0.25 && fracEllip <= 0.2).as("passes"))
  }

  /** C4-style line-level cleaning (Raffel et al. 2020, §2.2): keep
    * lines that end in terminal punctuation AND have >= `minLineWords`
    * words; drop the whole document when fewer than `minKeptLines`
    * survive or it contains a blocklist marker ('lorem ipsum', '{').
    * Returns struct(n_lines, n_lines_kept, doc_kept, clean) — emit all
    * docs with the verdict rather than filtering, so audits see what
    * was dropped and why. Map-side codegen'd builtins only. */
  def c4Clean(page: Column, minLineWords: Int = 5,
      minKeptLines: Int = 3): Column = {
    val lines = split(page, "\n")
    val kept = filter(lines, l =>
      l.rlike("[.!?\"]$") && size(split(l, " ")) >= minLineWords)
    val nl = size(lines).cast("long")
    val nk = size(kept).cast("long")
    val hasBad = page.contains("lorem ipsum") || page.contains("{")
    struct(
      nl.as("n_lines"),
      nk.as("n_lines_kept"),
      (nk >= minKeptLines && !hasBad).as("doc_kept"),
      concat_ws("\n", kept).as("clean"))
  }

  /** Rolling polynomial hash over characters (mod 2^61-1), a
    * shingling-friendly fingerprint; implemented as a fold over the
    * char array — still codegen'd builtins. */
  def rollingHash(text: Column): Column = {
    val prime = lit(1152921504606846883L) // largest prime < 2^60
    aggregate(
      transform(split(text, ""), ch => ascii(ch).cast("long")),
      lit(0L),
      (acc, c) => pmod(acc * 131 + c, prime))
  }

  /** Per-document zlib compression ratio — the Gopher/RefinedWeb-family
    * "natural-language-ness" signal the column functions above cannot
    * express: boilerplate, repeated spans and machine-generated filler
    * compress far below natural prose, and the ratio catches repetition
    * patterns n-gram rules miss. Returns (id, n_bytes, n_compressed,
    * compression_ratio = compressed/raw bytes).
    *
    * The one deliberate UDF-shaped operator in this package: no
    * builtin or codegen'd kernel computes DEFLATE, so this runs as a
    * batched `mapPartitions` with ONE reused Deflater per partition
    * (reset per row, end()ed by a task-completion listener so early
    * termination cannot leak it) — still pure map-side
    * scan-stage work, zero shuffle. Deterministic for a fixed JVM's
    * zlib (not cross-engine — no DuckDB oracle; unit-pinned ordering
    * properties instead). */
  def compressionRatios(df: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .mapPartitions { it =>
        val d = new java.util.zip.Deflater()
        // free the native zlib state when the TASK completes, not when
        // the iterator is exhausted: a downstream limit/take or
        // short-circuit may drop the iterator early, and an
        // exhaustion-hook alone would leak the native buffer until
        // finalization. end() is idempotent.
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => d.end()))
        val buf = new Array[Byte](1 << 16)
        it.map { case (id, text) =>
          val in = Option(text).getOrElse("").getBytes("UTF-8")
          d.reset(); d.setInput(in); d.finish()
          var out = 0L
          while (!d.finished()) out += d.deflate(buf)
          (id, in.length.toLong, out)
        }
      }
      .toDF(idCol, "n_bytes", "n_compressed")
      .withColumn("compression_ratio",
        round(col("n_compressed").cast("double") /
          greatest(col("n_bytes").cast("double"), lit(1.0)), 6))
  }
}
