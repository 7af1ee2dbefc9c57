package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text analytics (SURVEY.md §2.2 P6/P7/P10 + the training-data-pipeline
  * text operators: token counting, quality scoring, language ID, document
  * fingerprinting).
  *
  * Reference semantics re-expressed:
  *  - P6 tokenizer (`a1p2a_ahuja.py:20` split-on-space;
  *    `a1p2b_ahuja.py:68` regex multi-delimiter split; word-boundary
  *    contract from Assignment-1 spec p.2 (ii)(2)) → [[tokensCol]]:
  *    Spark's `lower`, then the codegen'd `graft_tokens` byte scan for
  *    `[a-z0-9]` runs — no regex, no UDF, no interpreted lambda.
  *  - A1 word count (`a1p2a_ahuja.py:20`) → groupBy(token).count.
  *  - J2 vocabulary semi join (`a1p2b_ahuja.py:70`) — see
  *    [[Relational.broadcastSemiJoin]].
  *
  * All operators are per-row or single-shuffle; nothing holds driver state,
  * so they scale linearly with input bytes.
  */
object TextAnalytics {

  /** Word-boundary contract: a token is a maximal run of [a-z0-9] after
    * lowercasing — "Marketing." tokenizes to "marketing";
    * "supermarketing" does not (Assignment-1 spec p.2 (ii)(2)). The
    * delimiter regex of that contract; [[tokensCol]] scans for the runs
    * without it, and RowKernelsSpec pins the two to the same tokens. */
  val TokenPattern = "[^a-z0-9]+"

  /** Small English stopword list used by quality scoring and language ID.
    * Fixed + sorted so oracle SQL can embed the identical literal. */
  val Stopwords: Seq[String] = Seq(
    "a", "an", "and", "are", "as", "at", "be", "by", "for", "from", "in",
    "is", "it", "of", "on", "or", "that", "the", "to", "with")

  /** The one tokenizer of every text and dedup operator:
    * `graft_tokens(lower(text))`, equal to `filter(split(lower(text),
    * TokenPattern), t -> t != "")`. Case mapping stays Spark's own `Lower`
    * (ICU or JDK, e.g. U+212A KELVIN SIGN → "k"); the kernel replaces
    * only the regex split and the empty-token filter, which Spark runs
    * interpreted (`ArrayFilter` is `CodegenFallback`). */
  def tokensCol(text: Column): Column =
    graft.functions.RowFunctions.tokens(lower(text))

  /** P6: (id, text) → one row per token. */
  def tokenize(df: DataFrame, id: Column, text: Column): DataFrame =
    df.select(id.as("id"), explode(tokensCol(text)).as("token"))

  /** A1: global word count, deterministically ordered. */
  def wordCount(df: DataFrame, text: Column): DataFrame =
    df.select(explode(tokensCol(text)).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .orderBy("word")

  /** Exact corpus heavy hitters: tokens with frequency ≥ total/k — the
    * vocabulary-health signal (boilerplate detection, stopword discovery)
    * usually approximated with Misra-Gries/count-min sketches. Exact is
    * affordable on any corpus here because the shuffle is vocabulary-
    * sized after map-side combine, and the total arrives as a broadcast
    * one-row aggregate (no driver collect, no second scan of the raw
    * data). The threshold test is pure integer arithmetic (`cnt·k ≥
    * total`) — no float boundary flakiness; safe from overflow below
    * ~10¹⁷ tokens. */
  def heavyHitters(df: DataFrame, text: Column, k: Int): DataFrame = {
    require(k > 1, s"k must be > 1, got $k")
    val counts = df.select(explode(tokensCol(text)).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum(col("cnt")).as("total"))
    counts.crossJoin(broadcast(total))
      .filter(col("cnt") * k >= col("total"))
      .select(col("token"), col("cnt"),
        round(col("cnt").cast("double") / col("total").cast("double"), 6)
          .as("frac_r"))
      .orderBy(col("cnt").desc, col("token"))
  }

  /** Global top-k terms by frequency — ranked with the range-shuffle row
    * numbers ([[Relational.globalRowNumber]]), NOT a single-partition
    * window: the vocabulary is unbounded (Heaps' law), so the ranking
    * step must scale out like everything else. Ties break
    * lexicographically for a deterministic total order. */
  def topTerms(df: DataFrame, text: Column, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val counts = df.select(explode(tokensCol(text)).as("term"))
      .groupBy("term").agg(count(lit(1)).as("cnt"))
    Relational.globalRowNumber(counts, Seq(col("cnt").desc, col("term")),
      alias = "rank")
      .filter(col("rank") <= k)
      .select(col("rank"), col("term"), col("cnt"))
      .orderBy("rank")
  }

  /** Per-document out-of-vocabulary rate against the corpus's own
    * top-`vocabSize` terms — the tokenizer-coverage check a curation
    * pipeline runs before committing to a vocabulary: a doc whose
    * tokens mostly fall outside the candidate vocab is either noise or
    * a domain the tokenizer will shred.
    *
    * Plan: one token explode feeds BOTH the vocabulary ranking
    * ([[topTerms]] — range-shuffle row numbers, no single-partition
    * window) and the per-doc membership count; the vocab (bounded at
    * `vocabSize` rows) broadcasts into a left join, so the token stream
    * shuffles once for the ranking and once per-doc — never pairwise.
    * Docs with zero tokens are excluded (mirrored in the oracle). */
  def oovRate(df: DataFrame, id: Column, text: Column,
              vocabSize: Int): DataFrame = {
    require(vocabSize > 0, s"vocabSize must be positive, got $vocabSize")
    val tok = df.select(id.as("doc_id"), explode(tokensCol(text)).as("term"))
    val vocab = topTerms(df, text, vocabSize)
      .select(col("term"), lit(1L).as("_inv"))
    tok.join(broadcast(vocab), Seq("term"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("_inv").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        round(col("n_oov").cast("double") / col("n_tokens").cast("double"),
          6).as("oov_rate_r"))
      .orderBy("doc_id")
  }

  /** Quality scoring: per-document token statistics — token count, distinct
    * tokens, mean token length, stopword ratio, digit-character ratio.
    * Pure per-row array math (no shuffle at all). */
  def docStats(df: DataFrame, id: Column, text: Column): DataFrame = {
    val toks = tokensCol(text)
    df.select(
        id.as("doc_id"),
        toks.as("toks"),
        length(regexp_replace(text, "[^0-9]", "")).as("n_digit"),
        length(text).as("n_char"))
      .select(
        col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(array_distinct(col("toks"))).cast("long").as("n_distinct"),
        // greatest(…, 1): empty documents yield 0 ratios instead of an
        // ANSI divide-by-zero error (doubles error too under ANSI mode);
        // unchanged for any non-empty document
        (aggregate(col("toks"), lit(0L), (a, t) => a + length(t)).cast("double")
          / greatest(size(col("toks")), lit(1))).as("avg_token_len"),
        (size(filter(col("toks"), t => t.isin(Stopwords.map(lit): _*)))
          .cast("double") / greatest(size(col("toks")), lit(1))).as("stopword_ratio"),
        (col("n_digit").cast("double") / greatest(col("n_char"), lit(1))).as("digit_ratio"))
  }

  /** Language ID heuristic: stopword-hit ratio over the token stream.
    * An n-gram model would slot in the same shape; the contract here is the
    * Spark plumbing (per-row, no shuffle), oracle-checkable in SQL. */
  def languageId(df: DataFrame, id: Column, text: Column,
                 threshold: Double = 0.10): DataFrame = {
    val toks = tokensCol(text)
    df.select(id.as("doc_id"), toks.as("toks"))
      .select(
        col("doc_id"),
        (size(filter(col("toks"), t => t.isin(Stopwords.map(lit): _*)))
          .cast("double") / greatest(size(col("toks")), lit(1))).as("stop_ratio"))
      .withColumn("lang_pred",
        when(col("stop_ratio") >= threshold, lit("en")).otherwise(lit("other")))
  }

  /** Character-trigram language profiles (Cavnar–Trenkle style: a ranked
    * list of the language's most frequent trigrams, spaces as boundaries).
    * Hand-built from high-frequency function words — small on purpose; a
    * production profile would be learned from a corpus, the OPERATOR shape
    * (per-row profile distance, zero shuffle) is what scales. */
  val LangProfiles: Map[String, IndexedSeq[String]] = Map(
    "en" -> Vector(" th", "the", "he ", " an", "and", "nd ", " of", "of ",
      "ing", "ng ", " to", "to ", " in", "in ", "ion", " is", "is ", "ed ",
      "at ", " be"),
    "es" -> Vector(" de", "de ", " la", "la ", " el", "el ", "os ", " qu",
      "que", "ue ", " en", "en ", " lo", "los", " es", "es ", "ar ", " co",
      "ión", "ón "),
    "fr" -> Vector(" de", "de ", " le", "le ", "es ", " la", "la ", "ent",
      "nt ", " et", "et ", " un", "un ", "re ", " qu", "que", "ue ", " pa",
      "our", "ur "),
    "de" -> Vector("er ", " de", "der", "en ", "ie ", " di", "die", "ch ",
      "sch", " un", "und", "nd ", "ein", " ei", "ung", "ng ", "ich", " ge",
      "ten", "cht"))

  /** Normalization used by [[langIdNgram]] on BOTH the Spark side and the
    * DuckDB oracle (interpolated into the SQL from this constant, so the
    * two can never drift). ASCII-only on purpose: the profile trigrams are
    * a–z, so non-Latin characters are treated as boundaries — a document
    * with no Latin letters degenerates to all-penalty distances for every
    * profile and ties deterministically. */
  val LangIdNormPattern = "[^a-z]+"

  /** Default rank-list depth for [[langIdNgram]]; also the out-of-list
    * penalty (Cavnar–Trenkle "out of place" maximum). */
  val LangIdTopK = 40

  private val langIdNormRegex =
    java.util.regex.Pattern.compile(LangIdNormPattern)

  /** Packs a trigram into a 21-bit int, 7 bits per char. Normalized text
    * is only `[a-z ]` (all < 128), so packed ascending order is exactly
    * String ascending order for equal-length trigrams — the deterministic
    * tie-break is preserved bit-for-bit. Profile trigrams containing a
    * non-ASCII char (e.g. "ión") can never occur in normalized text, so
    * they pack to -1 and always take the out-of-list penalty, same as the
    * string lookup they replace. */
  private def packTri(g: String): Int = {
    val c0 = g.charAt(0); val c1 = g.charAt(1); val c2 = g.charAt(2)
    if (c0 >= 128 || c1 >= 128 || c2 >= 128) -1
    else (c0 << 14) | (c1 << 7) | c2
  }

  /** Rank-distance ("out of place") language ID over character trigrams —
    * the n-gram heuristic complement of the stopword [[languageId]].
    * Pure per-row work; returns the best profile and its distance.
    *
    * Kernel notes (semantics identical to the naive form the DuckDB
    * oracle reproduces, only the constants differ): trigram counting uses
    * packed ints in a primitive-keyed map (no per-trigram String), and the
    * deterministic top-K (count desc, trigram asc) is one
    * `Arrays.sort(Long[])` over composite keys
    * `(maxCount - count) << 21 | packedTrigram` — ascending order of the
    * composite is exactly the required ordering. */
  def langIdNgram(df: DataFrame, id: Column, text: Column,
                  topK: Int = LangIdTopK): DataFrame = {
    // stable capture for the closure; langs pre-sorted so "first strict
    // min wins" reproduces the (distance, lang) tie-break
    val packedProfiles: Array[(String, Array[Int])] =
      LangProfiles.toSeq.sortBy(_._1)
        .map { case (lang, prof) => (lang, prof.map(packTri).toArray) }
        .toArray
    val classify = udf { (t: String) =>
      // null text degrades like the other text operators (null row),
      // never an NPE that fails the whole job
      if (t == null) null
      else classifyText(t, packedProfiles, topK)
    }
    df.select(id.as("doc_id"), classify(text).as("r"))
      .select(col("doc_id"), col("r._1").as("lang_pred"),
        col("r._2").as("distance"))
  }

  private def classifyText(t: String, packedProfiles: Array[(String, Array[Int])],
                           topK: Int): (String, Long) = {
      val s = " " + langIdNormRegex.matcher(t.toLowerCase).replaceAll(" ").trim + " "
      val counts = scala.collection.mutable.LongMap.empty[Int]
      val n = s.length
      var i = 0
      while (i + 3 <= n) {
        val p = (s.charAt(i) << 14) | (s.charAt(i + 1) << 7) | s.charAt(i + 2)
        counts(p.toLong) = counts.getOrElse(p.toLong, 0) + 1
        i += 1
      }
      // deterministic top-K: by count desc, then trigram asc
      val keys = new Array[Long](counts.size)
      var k = 0
      counts.foreachEntry { (p, c) =>
        keys(k) = ((Int.MaxValue - c).toLong << 21) | p; k += 1
      }
      java.util.Arrays.sort(keys)
      val kept = math.min(topK, keys.length)
      val rank = scala.collection.mutable.LongMap.empty[Int]
      var r = 0
      while (r < kept) { rank(keys(r) & 0x1FFFFFL) = r; r += 1 }
      var bestLang = ""; var bestD = Long.MaxValue
      var li = 0
      while (li < packedProfiles.length) {
        val (lang, prof) = packedProfiles(li)
        var d = 0L; var j = 0
        while (j < prof.length) {
          val p = prof(j)
          val rr = if (p < 0) -1 else rank.getOrElse(p.toLong, -1)
          d += (if (rr < 0) topK else math.abs(rr - j))
          j += 1
        }
        if (d < bestD) { bestD = d; bestLang = lang }
        li += 1
      }
      (bestLang, bestD)
  }

  /** Canonical text form for dedup keys: lowercase → Unicode NFC →
    * collapse whitespace runs → trim. Exact dedup on raw bytes misses
    * trivially-different duplicates (composed vs decomposed accents, case,
    * spacing); canonicalization first is the standard fix. Per-row, no
    * shuffle; NFC via the JVM's built-in `java.text.Normalizer`. */
  def canonicalize(text: Column): Column = {
    val nfc = udf { (t: String) =>
      if (t == null) null
      else java.text.Normalizer.normalize(t, java.text.Normalizer.Form.NFC)
    }
    trim(regexp_replace(nfc(lower(text)), "\\s+", " "))
  }

  /** (id, md5 of canonical form) — the exact-dedup key after
    * canonicalization. */
  def canonicalKey(df: DataFrame, id: Column, text: Column): DataFrame =
    df.select(id.as("doc_id"), md5(canonicalize(text)).as("canon_key"))

  /** PII redaction patterns — the regex-subset shared by Java regex and
    * RE2, so an independent SQL engine can replay the redaction verbatim
    * (see [[graft.functions.TextCleanExprs]], the one definition behind
    * this Column API and the `graft_redact_pii` SQL function). */
  val UrlRe: String   = graft.functions.TextCleanExprs.UrlRe
  val EmailRe: String = graft.functions.TextCleanExprs.EmailRe
  val Ipv4Re: String  = graft.functions.TextCleanExprs.Ipv4Re
  val PhoneRe: String = graft.functions.TextCleanExprs.PhoneRe

  /** Redact PII spans with typed placeholders (order contract documented
    * on the expression builder). Per-row codegen'd regex chain — one
    * scan, no shuffle; at 100 TB this is exactly as parallel as the input
    * split count. */
  def redactPii(text: Column): Column =
    org.apache.spark.sql.GraftExpressionBridge.column(
      graft.functions.TextCleanExprs.redactPii(
        org.apache.spark.sql.GraftExpressionBridge.expression(text)))

  /** HTML → text extraction (the first transform of every web-crawl
    * ingest): drop `<script>`/`<style>` blocks WITH their contents (code
    * is not prose), strip remaining tags, decode the five predefined
    * character entities (`&amp;` LAST — decoding it first would
    * double-decode `&amp;lt;`), collapse whitespace. Regexes stay in the
    * Java-regex/RE2 shared subset (`(?s)` dotall + lazy `.*?`), so an
    * independent engine replays the chain byte for byte. Per-row, one
    * scan, no shuffle. */
  def htmlToText(html: Column): Column =
    org.apache.spark.sql.GraftExpressionBridge.column(
      graft.functions.TextCleanExprs.htmlToText(
        org.apache.spark.sql.GraftExpressionBridge.expression(html)))

  /** `<title>` contents (first match; "" when absent) — the one structural
    * field worth keeping from stripped HTML. */
  def htmlTitle(html: Column): Column =
    org.apache.spark.sql.GraftExpressionBridge.column(
      graft.functions.TextCleanExprs.htmlTitle(
        org.apache.spark.sql.GraftExpressionBridge.expression(html)))

  /** Redaction audit: the cleaned text plus per-category match counts
    * (counted on the RAW text, so the audit shows what was found even
    * when categories overlap and a later pattern sees already-redacted
    * spans). The counts make drop-rate monitoring a one-aggregate
    * downstream query instead of a second regex pass. */
  def piiScan(df: DataFrame, id: Column, text: Column): DataFrame =
    // widenKernelStage: the five-regex chain is pure scan-stage CPU —
    // file-split-capped without it (r17 A/B)
    Sizing.widenKernelStage(df).select(
      id.as("doc_id"),
      redactPii(text).as("clean_text"),
      regexp_count(text, lit(UrlRe)).cast("long").as("n_url"),
      regexp_count(text, lit(EmailRe)).cast("long").as("n_email"),
      regexp_count(text, lit(Ipv4Re)).cast("long").as("n_ip"),
      regexp_count(text, lit(PhoneRe)).cast("long").as("n_phone"))

  /** Document fingerprint: md5 over the sorted distinct token set —
    * order-insensitive content identity (bag-of-words dedup key). */
  def fingerprint(df: DataFrame, id: Column, text: Column): DataFrame =
    df.select(
      id.as("doc_id"),
      md5(concat_ws(" ", array_sort(array_distinct(tokensCol(text))))).as("fp"))

  /** Token count with a BPE-ish sub-word heuristic: whitespace tokens are
    * further split every `chunk` chars (an upper bound proxy for BPE token
    * counts used in training-data budgeting). */
  def tokenBudget(df: DataFrame, id: Column, text: Column,
                  chunk: Int = 4): DataFrame =
    df.select(
      id.as("doc_id"),
      size(split(text, "\\s+")).cast("long").as("ws_tokens"),
      aggregate(split(text, "\\s+"), lit(0L),
        (a, t) => a + ceil(length(t).cast("double") / chunk).cast("long"))
        .as("bpe_tokens"))

  /** Quality FILTER (the decision step on top of [[docStats]]' scoring):
    * Gopher/C4-style keep/drop per document from cheap distributional
    * signals — token-count bounds, max single-token frequency fraction
    * (repetition), minimum stopword ratio (natural-language-ness). Emits
    * the signals alongside the verdict so downstream can audit drops.
    *
    * Shape: one tokenize pass + one (doc, token) count shuffle for the
    * repetition signal; everything else is per-row. All signals are exact
    * integer ratios, so keep/drop decisions are bit-identical on any
    * engine — no float-threshold flakiness at boundaries. */
  def qualityFilter(df: DataFrame, id: Column, text: Column,
                    minTokens: Long = 20, maxTokens: Long = 100000,
                    maxTopTokenFrac: Double = 0.12,
                    minStopRatio: Double = 0.02): DataFrame = {
    // widenKernelStage: the tokenize + stopword membership fold is the
    // scan-stage kernel (r17 A/B; also feeds corpus_curation's filter leg)
    val base = Sizing.widenKernelStage(df)
      .select(id.as("doc_id"), tokensCol(text).as("toks"))
      .select(col("doc_id"), col("toks"),
        size(col("toks")).cast("long").as("n_tokens"),
        (size(filter(col("toks"), t => t.isin(Stopwords.map(lit): _*)))
          .cast("double") / greatest(size(col("toks")), lit(1))).as("stop_ratio"))
    // max token multiplicity PER ROW (r19 opt, guide §2.4 "remove shuffles
    // outright"): the old shape exploded the token stream through two
    // groupBy exchanges and joined the per-doc max back — a corpus-sized
    // token shuffle to compute a value that is a pure function of the row.
    // array_sort + run-length fold gives the same max_cnt (ties/values
    // exact-integer, engine-independent) in one narrow codegen map: the
    // whole verdict table now computes with ZERO shuffles at any corpus
    // size. Per-row cost is O(n log n) on the token count — bounded by the
    // same doc-length bounds the filter itself enforces.
    val maxCnt = aggregate(
      array_sort(col("toks")),
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, t) => {
        val run = when(t === acc("prev"), acc("run") + lit(1L))
          .otherwise(lit(1L))
        struct(t.as("prev"), run.as("run"),
          greatest(acc("best"), run).as("best"))
      },
      acc => acc("best"))
    base
      .select(col("doc_id"), col("n_tokens"),
        // coalesce replicates the old left-join semantics for NULL token
        // arrays (no (doc, token) rows → max_cnt 0, frac 0.0)
        (coalesce(maxCnt, lit(0L)).cast("double")
          / greatest(col("n_tokens"), lit(1L))).as("top_token_frac"),
        col("stop_ratio"))
      .withColumn("keep",
        col("n_tokens") >= minTokens && col("n_tokens") <= maxTokens &&
          col("top_token_frac") <= maxTopTokenFrac &&
          col("stop_ratio") >= minStopRatio)
      .select(col("doc_id"), col("n_tokens"),
        round(col("top_token_frac"), 6).as("top_token_frac"),
        round(col("stop_ratio"), 6).as("stop_ratio"), col("keep"))
  }

  /** TF-IDF keyword extraction: the `k` highest-scoring terms per document
    * by tf·ln(N/df) — the classic corpus-statistics signal for topical
    * keywords / quality features in a training-data pipeline.
    *
    * Shape: one tokenize pass → per-(doc, term) counts (tf, one shuffle) →
    * per-term document frequency (df, a second partial-aggregated shuffle
    * over the much smaller distinct pairs) → broadcast-join df back (the
    * term dictionary is vocabulary-sized, not corpus-sized) → window top-k
    * per doc. No driver state; every aggregate is map-side combined.
    *
    * Determinism: ties rank by round(tfidf, 6) desc then term asc — the
    * rounding makes mathematically-equal scores (e.g. tf=1 of a df=N/4
    * term vs tf=2 of a df=N/2 term) compare equal in any engine before the
    * lexicographic tie-break, so output is engine- and order-independent.
    */
  def tfidfTopTerms(df: DataFrame, id: Column, text: Column,
                    k: Int = 5): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    // corpus size as a broadcast 1-row frame: keeps the whole operator one
    // lazy DAG (no separate driver-side count action)
    val nDocs = df.select(id.as("doc_id")).agg(count(lit(1)).as("n"))
    // widenKernelStage: tokenize + explode + (doc, term) partial agg run
    // in the scan stage (r17 A/B); nDocs keeps the unwidened scan — a
    // bare count never pays an exchange
    // cutSharedKernel: `pairs` feeds the document-frequency aggregate AND
    // the scoring join — one tokenize+explode+partial-agg pass past the
    // size gate (r19 opt)
    val pairs = Sizing.cutSharedKernel(Sizing.widenKernelStage(df)
      .select(id.as("doc_id"), explode(tokensCol(text)).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf")), src = df)
    val docFreq = pairs
      .groupBy("term").agg(count(lit(1)).as("df"))
    // docFreq is vocabulary-sized — unbounded at corpus scale (Heaps' law),
    // so no broadcast hint: pairs is already term-keyed and AQE may still
    // choose broadcast when the dictionary is actually small
    val scored = pairs
      .join(docFreq, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf_r",
        round(col("tf") * log(col("n") / col("df")), 6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("tfidf_r").desc, col("term"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"),
        col("df"), col("tfidf_r"))
      .orderBy("doc_id", "rank")
  }

  /** Context-window chunking (LLM training-data prep): split each doc's
    * token stream into `window`-token chunks advancing by `stride` tokens
    * (overlap = window − stride). Chunk count is
    * `max(1, ceil((n − window)/stride) + 1)` — the tail chunk may be short,
    * and a doc at or under `window` tokens yields exactly one chunk (no
    * redundant suffix fragments). Pure per-row row generation (P6-class):
    * a narrow map with no shuffle at any corpus size. */
  def chunkTokens(df: DataFrame, id: Column, text: Column,
                  window: Int, stride: Int): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    require(stride >= 1 && stride <= window,
      s"stride must be in [1, window], got $stride")
    df.select(id.as("doc_id"), tokensCol(text).as("_toks"))
      .filter(size(col("_toks")) > 0)
      .withColumn("_n", size(col("_toks")).cast("long"))
      .withColumn("_k", expr(s"CAST(CASE WHEN _n <= $window THEN 1L " +
        s"ELSE (_n - $window + ${stride - 1}) div $stride + 1 END AS INT)"))
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), col("_k") - 1),
          i => slice(col("_toks"), i * stride + 1, lit(window))))
          .as(Seq("chunk_idx", "chunk")))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        size(col("chunk")).cast("long").as("n_tokens"),
        array_join(col("chunk"), " ").as("chunk_text"))
  }

  /** Offset-based sequence packing: assign every document the training
    * batch ("pack") its first token falls into when the corpus is
    * concatenated in `doc_id` order at a fixed `budget`-token context —
    * pack = floor(cumulative-tokens-before / budget), plus the in-pack
    * start offset a packed-dataset writer needs. The global running sum
    * uses [[Relational.prefixSumByRange]] (range shuffle + parallel
    * per-partition sums + broadcast offsets), NOT a single-partition
    * window — the decile lesson applied to cumulative sums. */
  def packSequences(df: DataFrame, id: Column, text: Column,
                    budget: Long): DataFrame = {
    require(budget >= 1, s"budget must be >= 1, got $budget")
    val rows = df.select(id.as("doc_id"),
      coalesce(size(tokensCol(text)), lit(0)).cast("long").as("n_tokens"))
    Relational.prefixSumByRange(rows, Seq(col("doc_id")), col("n_tokens"),
        "_cum")
      .withColumn("_start", col("_cum") - col("n_tokens"))
      .select(col("doc_id"), col("n_tokens"),
        expr(s"_start div ${budget}L").as("pack"),
        expr(s"_start - (_start div ${budget}L) * ${budget}L").as("pack_offset"))
      .orderBy("doc_id")
  }

  /** Token n-grams WITH multiplicity (order preserved) — the occurrence
    * stream behind the repetition/duplication quality signals, as opposed
    * to [[Dedup.shingles]]' distinct SET. Same short-doc contract: a doc
    * with 0 < tokens < n yields one whole-doc gram. */
  private def ngramsWithDups(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
      .otherwise(array(concat_ws(" ", toks)))

  /** Intra-document repetition ratio: the fraction of each document's
    * n-gram OCCURRENCES that are repeats of a gram already seen in the
    * same document — the Gopher-class "repeated lines/paragraphs" quality
    * rule at token granularity (templated or looping text scores high;
    * prose scores near 0).
    *
    * One output row per (doc, n) for each requested n. Pure per-row array
    * math — ZERO shuffle at any corpus size (the ratio needs only the
    * doc's own gram list and its distinct count). Exact integer ratio
    * evaluated in one double division and rounded → bit-stable. */
  def repetitionStats(df: DataFrame, id: Column, text: Column,
                      ns: Seq[Int] = Seq(2, 3)): DataFrame = {
    require(ns.nonEmpty && ns.forall(_ >= 1), s"ns must be >= 1, got $ns")
    val toks = tokensCol(text)
    // widenKernelStage: zero-shuffle per-row math means the WHOLE
    // operator runs at file-split width without it — a sub-128 MB
    // corpus serializes the gram fold onto one core (r16 pathology
    // class; kernelwidth A/B r17: sf1.0 15.4 s → see PROBE.md)
    Sizing.widenKernelStage(df)
      .select(id.as("doc_id"), toks.as("_toks"))
      .filter(size(col("_toks")) > 0)
      .select(col("doc_id"),
        explode(array(ns.map { n =>
          val g = ngramsWithDups(col("_toks"), n)
          struct(lit(n.toLong).as("n"),
            size(g).cast("long").as("total_ngrams"),
            size(array_distinct(g)).cast("long").as("distinct_ngrams"))
        }: _*)).as("r"))
      .select(col("doc_id"), col("r.n"), col("r.total_ngrams"),
        col("r.distinct_ngrams"),
        round(lit(1.0) - col("r.distinct_ngrams").cast("double") /
          col("r.total_ngrams").cast("double"), 6).as("rep_ratio_r"))
      .orderBy("doc_id", "n")
  }

  /** Cross-document duplicated n-gram fraction: per document, the share of
    * its n-gram occurrences whose gram also appears in at least one OTHER
    * document — the corpus-level contamination/boilerplate signal (the
    * FineWeb/Gopher "fraction of chars in duplicated n-grams" family).
    * A document consisting mostly of corpus-wide boilerplate scores near
    * 1 even when no single whole-document duplicate exists.
    *
    * Plan: one scan → per-doc gram occurrence counts (groupBy doc, gram —
    * partial-aggregated, so a doc repeating one gram a million times
    * ships one row) → gram→distinct-doc counts (second groupBy on gram) →
    * join back and one per-doc sum. All shuffles are keyed by gram or
    * doc — no pair space, no driver state; vocabulary-sized intermediates
    * only (Heaps' law keeps those sublinear in corpus bytes). */
  def duplicatedNgramFraction(df: DataFrame, id: Column, text: Column,
                              n: Int = 5): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    // widenKernelStage: the tokenize + gram explode + map-side partial
    // aggregate all run inside the scan stage — file-split-capped
    // without the widening (kernelwidth A/B r17, PROBE.md)
    // cutSharedKernel: `occ` feeds both the gram-df aggregate and the
    // per-doc join below — past the size gate the tokenize+explode+
    // partial-agg pipeline runs once instead of twice (r19 opt)
    val occ = Sizing.cutSharedKernel(Sizing.widenKernelStage(df)
      .select(id.as("doc_id"), tokensCol(text).as("_toks"))
      .filter(size(col("_toks")) > 0)
      .select(col("doc_id"),
        explode(ngramsWithDups(col("_toks"), n)).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("cnt")), src = df)
    val gramDocs = occ.groupBy("g").agg(count(lit(1)).as("n_docs"))
    occ.join(gramDocs, "g")
      .groupBy("doc_id")
      .agg(sum(col("cnt")).as("total_occ"),
        sum(when(col("n_docs") >= 2, col("cnt")).otherwise(0L)).as("dup_occ"))
      .select(col("doc_id"), col("total_occ"), col("dup_occ"),
        round(col("dup_occ").cast("double") / col("total_occ").cast("double"),
          6).as("dup_frac_r"))
      .orderBy("doc_id")
  }

  /** BM25 ranked retrieval: top-`k` documents for a bag of query terms —
    * the lexical half of every retrieval/contamination-check stack (the
    * scale path for "which training docs match this eval prompt").
    *
    * score(D) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·|D|/avgdl)),
    * idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5))  (Robertson/Sparck Jones).
    *
    * Plan: tf for query terms only (the term filter prunes BEFORE the
    * groupBy, so the shuffle carries query-vocabulary rows, not the
    * corpus vocabulary); df from one more aggregate over those rows;
    * doc lengths and N/avgdl from a single broadcast 1-row aggregate of
    * the docStats scan. Cross-engine determinism follows the
    * tfidf_top_terms pattern: fixed operation order, `round(score, 6)`,
    * and ranking on the ROUNDED score with doc_id tie-breaks — last-ulp
    * `ln` differences between engines cannot reorder the output. */
  def bm25TopK(df: DataFrame, id: Column, text: Column,
               queryTerms: Seq[String], k: Int = 10,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "bm25TopK needs at least one query term")
    require(k > 0, s"k must be positive, got $k")
    // the tokenizer lowercases, so query terms must match that domain;
    // dedup so a repeated query term cannot double-count a score
    val terms = queryTerms.map(_.toLowerCase(java.util.Locale.ROOT)).distinct
    // ONE tokenize pass at scale (r19 opt, r20 gate-conditional SHAPE):
    // the stats aggregate and the tf stream both need the tokenizer, and
    // as separate lineages each re-ran it over the whole corpus. Past the
    // shared-kernel gate, project the tokens down to (dl, query-term
    // hits) — a few bytes per doc — checkpoint that slim frame, and both
    // consumers read one materialization. BELOW the gate nothing is
    // materialized, so the slim projection bought nothing (both lineages
    // re-tokenized anyway) while its higher-order `filter(_toks, isin)`
    // lambda — interpreted per token, no whole-stage codegen — ran in
    // BOTH of them: the measured r19 retrieval_eval regression (2.39 →
    // 2.77 s isolated, verdict #4). Sub-gate keeps the r18 shape: carry
    // `_toks`, explode, then a codegen'd `isin` filter on the exploded
    // stream — row-identical, since explode(filter(xs,p)) ≡
    // explode(xs).filter(p) and `dl`/stats never depended on the hits.
    // The kernel is widened off the file-split count either way.
    val doCut = Sizing.sharedKernelCutOk(df)
    val tokked = Sizing.widenKernelStage(df)
      .select(id.as("doc_id"), tokensCol(text).as("_toks"))
    val docs =
      if (doCut) Checkpoints.cut(tokked
        .select(col("doc_id"),
          size(col("_toks")).cast("long").as("dl"),
          filter(col("_toks"), t => t.isin(terms: _*)).as("_hits"))
        .filter(col("dl") > 0))
      else tokked
        .select(col("doc_id"), col("_toks"),
          size(col("_toks")).cast("long").as("dl"))
        .filter(col("dl") > 0)
    // N and total token count in ONE broadcast row; avgdl derived in a
    // fixed order (sumdl/N) so both engines divide the same integers
    val stats = docs.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sumdl"))
    val hits =
      if (doCut) docs
        .select(col("doc_id"), col("dl"), explode(col("_hits")).as("term"))
      else docs
        .select(col("doc_id"), col("dl"), explode(col("_toks")).as("term"))
        .filter(col("term").isin(terms: _*))
    val tf = hits
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"),
        first(col("dl")).as("dl"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val perTerm = tf.join(dfreq, "term").crossJoin(broadcast(stats))
      .withColumn("_idf",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) /
          (col("df") + lit(0.5))))
      .withColumn("_norm",
        lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") /
          (col("sumdl").cast("double") / col("n_docs").cast("double"))))
      .withColumn("_s",
        col("_idf") * col("tf").cast("double") * lit(k1 + 1.0) /
          (col("tf").cast("double") + col("_norm")))
    // the doc score sums <= |terms| doubles — but float addition is not
    // associative, and a plain sum() adds in partition order. Pivot each
    // term's score out (terms are a pinned literal list) and add them in
    // FIXED sorted-term order, so every engine computes the identical
    // ((s1 + s2) + s3) chain
    val termScore = terms.sorted.map(t =>
      coalesce(max(when(col("term") === t, col("_s"))), lit(0.0)))
    val scored = perTerm
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"),
        round(termScore.reduce(_ + _), 6).as("score_r"))
      .select(col("doc_id"), col("score_r"), col("n_terms"))
    // global rank WITHOUT a no-partition window (the decile scale-killer
    // shape): range shuffle + parallel per-partition rank + offset merge
    // over the per-doc score table — scale-safe even when every doc
    // matches a query term
    Relational.globalRowNumber(scored,
        Seq(col("score_r").desc, col("doc_id")), alias = "rank")
      .filter(col("rank") <= k)
      .select(col("rank"), col("doc_id"), col("n_terms"), col("score_r"))
      .orderBy("rank")
  }

  /** Unigram language-model scoring: each document's total log-probability
    * under the corpus's OWN unigram distribution — the classic
    * "train a cheap LM on the corpus, flag the outliers" quality signal
    * (documents full of rare tokens score low; boilerplate scores high).
    *
    * Exactness contract: per-token scores are ln(cnt/total) scaled to
    * integer MICRO-nats (`floor(ln(p)·10⁶)` as BIGINT), so the per-doc
    * total is an integer sum — associative, partition-order-independent,
    * and reproducible by any engine (the only float step is one ln per
    * DISTINCT token on an exact integer ratio; a boundary flip would need
    * ln(p)·10⁶ within ~1e-9 of an integer).
    *
    * Plan shape at scale: the (doc, token) stream partial-aggregates to
    * per-doc multiplicities before any join; the score table is
    * vocabulary-sized (AQE broadcasts it when small, keyed join
    * otherwise); the corpus total arrives as a broadcast one-row
    * aggregate, never a driver collect. Token-less docs (NULL/empty
    * text) surface with n_tokens = 0 rather than dropping.
    */
  def unigramLogProb(df: DataFrame, id: Column, text: Column): DataFrame = {
    // widenKernelStage: same scan-stage tokenize kernel as the bigram
    // twin (r17 A/B)
    val docs = Sizing.widenKernelStage(df)
      .select(id.as("doc_id"), text.as("text"))
    // cutSharedKernel: docTok feeds the corpus-frequency aggregate AND the
    // per-doc scoring join — one tokenize+explode+partial-agg pass past
    // the size gate (r19 opt)
    val docTok = Sizing.cutSharedKernel(docs
      .select(col("doc_id"), explode(tokensCol(col("text"))).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("m")), src = df)
    val freq = docTok.groupBy("token").agg(sum(col("m")).as("cnt"))
    val total = freq.agg(sum(col("cnt")).as("total"))
    val scored = freq.join(broadcast(total))
      .select(col("token"),
        floor(log(col("cnt").cast("double") / col("total").cast("double")) *
          lit(1000000d)).as("lp_micro"))
    val perDoc = docTok.join(scored, "token")
      .groupBy("doc_id")
      .agg(sum(col("m")).as("n_tokens"),
        sum(col("m") * col("lp_micro")).as("logprob_micro"))
    docs.join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("logprob_micro"), lit(0L)).as("logprob_micro"))
  }

  /** Bigram language-model scoring with add-one smoothing — the
    * conditional twin of [[unigramLogProb]]: each document's total
    * ln P(w_i | w_{i-1}) under the corpus's own bigram counts,
    * p(w2|w1) = (c(w1 w2) + 1) / (c(w1 ·) + V), V = corpus vocabulary
    * size. Catches word-salad documents whose unigram profile looks
    * normal but whose transitions are improbable.
    *
    * Same exactness contract as the unigram scorer: per-bigram scores
    * are floor(ln(p)·10⁶) BIGINTs computed once per DISTINCT bigram on
    * an exact integer ratio (all counts and V are integers), then only
    * integer sums. Bigrams are built inside the row (`zip_with` of the
    * token array against its own tail — no positional self-join, no
    * window); docs with < 2 tokens surface with n_bigrams = 0.
    */
  def bigramLogProb(df: DataFrame, id: Column, text: Column): DataFrame = {
    // widenKernelStage: tokenize + zip_with bigram build + partial agg
    // run in the scan stage — file-split-capped without it (r17 A/B)
    val docs = Sizing.widenKernelStage(df)
      .select(id.as("doc_id"), text.as("text"))
    val withToks = docs.select(col("doc_id"), tokensCol(col("text")).as("t"))
    val len = greatest(size(col("t")) - 1, lit(0))
    val bg = withToks.select(col("doc_id"),
      explode(zip_with(
        slice(col("t"), lit(1), len), slice(col("t"), lit(2), len),
        (a, b) => concat_ws(" ", a, b))).as("bg"))
    // cutSharedKernel: docBg feeds the bigram-count aggregate AND the
    // per-doc scoring join — one tokenize+bigram-build pass past the size
    // gate (r19 opt; the vocabulary count keeps its own pass — unigram
    // vocabulary is not derivable from the bigram multiset)
    val docBg = Sizing.cutSharedKernel(
      bg.groupBy("doc_id", "bg").agg(count(lit(1)).as("m")), src = df)
    val c12 = docBg.groupBy("bg").agg(sum(col("m")).as("c12"))
    val c1 = c12.groupBy(split(col("bg"), " ").getItem(0).as("w1"))
      .agg(sum(col("c12")).as("c1"))
    val vocab = docs
      .select(explode(tokensCol(col("text"))).as("token"))
      .agg(count_distinct(col("token")).as("v"))
    val lp = c12.withColumn("w1", split(col("bg"), " ").getItem(0))
      .join(c1, "w1")
      .join(broadcast(vocab))
      .select(col("bg"),
        floor(log((col("c12") + lit(1L)).cast("double") /
          (col("c1") + col("v")).cast("double")) * lit(1000000d))
          .as("lp_micro"))
    val perDoc = docBg.join(lp, "bg")
      .groupBy("doc_id")
      .agg(sum(col("m")).as("n_bigrams"),
        sum(col("m") * col("lp_micro")).as("logprob_micro"))
    docs.join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("logprob_micro"), lit(0L)).as("logprob_micro"))
  }
}
