package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for large-scale training-data pipelines:
  * tokenization, quality scoring, language ID, fingerprinting.
  *
  * Everything is a pure `Column` expression — codegen'd, no UDFs, no
  * shuffles: at 100 TB these run map-side inside the parquet scan stage.
  * Formulas are deliberately SQL-portable so the DuckDB oracle can replicate
  * them term-for-term (identical double arithmetic order).
  */
object TextAnalysis {

  /** Whitespace tokenization (the corpus is single-space separated). */
  def tokens(text: Column): Column = split(text, " ")

  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  def uniqueTokenCount(text: Column): Column =
    size(array_distinct(tokens(text))).cast("long")

  /** Canonical-URL normalization — the dedup key every web-crawl pipeline
    * groups on before any content hashing (the same page arrives as
    * `HTTP://Example.COM:80/a?utm_source=x&b=2&a=1#frag` and
    * `http://example.com/a?a=1&b=2`). Pure native-function composition
    * (regexp parts + HOF `filter` + `array_sort` — no UDF, runs map-side
    * inside the scan stage at any scale):
    *
    *  - scheme and authority lowercased (path/query case is semantic and
    *    preserved);
    *  - default ports stripped (`:80` for http, `:443` for https);
    *  - the fragment dropped;
    *  - tracking parameters dropped (`utm_*`, `gclid`, `fbclid`, `ref`),
    *    the survivors sorted byte-wise and rejoined;
    *  - an empty path canonicalized to `/`.
    *
    * Non-URL input (no `scheme://`) returns NULL rather than a half
    * -normalized string, so a later `groupBy` cannot merge garbage. */
  def canonicalUrl(url: Column): Column = {
    val trimmed = trim(url)
    val noFrag = regexp_replace(trimmed, "#.*$", "")
    val scheme = lower(regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.\\-]*)://", 1))
    val authority = lower(regexp_extract(noFrag, "^[^:/?#]+://([^/?]+)", 1))
    val noPort = when(scheme === "http", regexp_replace(authority, ":80$", ""))
      .when(scheme === "https", regexp_replace(authority, ":443$", ""))
      .otherwise(authority)
    val path = regexp_extract(noFrag, "^[^:/?#]+://[^/?]*(/[^?]*)?", 1)
    val pathNorm = when(path === "", "/").otherwise(path)
    val query = regexp_extract(noFrag, "\\?(.*)$", 1)
    val kept = array_sort(filter(split(query, "&"), p =>
      p =!= "" && !p.rlike("^(utm_[^=]*|gclid|fbclid|ref)(=|$)")))
    val queryNorm = when(size(kept) > 0,
      concat(lit("?"), array_join(kept, "&"))).otherwise(lit(""))
    // guard on the post-strip authority: ':80'-style host-less input
    // would otherwise emit 'http:///x', which re-canonicalizes to null
    // and breaks the fixed-point contract UrlFuzzSpec pins
    when(scheme === "" || noPort === "", lit(null).cast("string"))
      .otherwise(concat(scheme, lit("://"), noPort, pathNorm, queryNorm))
  }

  /** Lowercased host of a URL: the authority minus userinfo and port.
    * NULL when the input has no `scheme://authority`. */
  def urlHost(url: Column): Column = {
    val auth = regexp_extract(trim(url), "^[^:/?#]+://([^/?#]+)", 1)
    val noUser = regexp_replace(auth, "^[^@]*@", "")
    val host = lower(regexp_replace(noUser, ":[0-9]*$", ""))
    when(host === "", lit(null).cast("string")).otherwise(host)
  }

  /** Second-level public suffixes recognized by [[registeredDomain]] —
    * the high-traffic subset of the public-suffix list (a production
    * deployment would broadcast the full list; the grouping logic is
    * identical). */
  val MultiLabelSuffixes: Seq[String] = Seq(
    "co.uk", "org.uk", "ac.uk", "gov.uk", "com.au", "net.au", "org.au",
    "co.jp", "ne.jp", "or.jp", "com.br", "com.cn", "com.mx", "co.in",
    "co.kr", "com.tr", "com.ar", "co.za", "com.sg", "com.hk")

  /** eTLD+1 of a host — the "one domain must not dominate the mix" cap
    * key ([[capPerKey]] / Curation's maxPerSource groups on it):
    * `a.b.site.co.uk` → `site.co.uk`, `www.site.com` → `site.com`.
    * Pure Column arithmetic over the label array; IPv4 literals and
    * hosts at-or-below the suffix length pass through unchanged. */
  def registeredDomain(host: Column): Column = {
    val parts = split(host, "\\.")
    val n = size(parts)
    val last2 = concat_ws(".",
      try_element_at(parts, lit(-2)), try_element_at(parts, lit(-1)))
    val take = when(last2.isin(MultiLabelSuffixes: _*), 3).otherwise(2)
    // the isNull arm first: a null host would otherwise fall through to
    // concat_ws, which folds null arrays to "" instead of propagating
    when(host.isNull, lit(null).cast("string"))
      .when(host.rlike("^[0-9.]+$") || n <= take, host)
      .otherwise(concat_ws(".", slice(parts, n - take + 1, take)))
  }

  /** HTML character-reference decode ([[graft.functions.HtmlEntityMath]]
    * one-pass semantics) as a codegen'd native expression — named subset
    * + full numeric dec/hex incl. supplementary planes; torn or unknown
    * references pass through verbatim. */
  def decodeHtmlEntities(c: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(
      graft.functions.HtmlEntityDecode(ColumnBridge.expression(c)))
  }

  /** HTML/markup → text extraction — the missing HEAD of a crawl
    * pipeline: every downstream screen this module ships (langid, Gopher
    * rules, LM scoring, dedup) assumes a clean `text` column that
    * something must have extracted from WARC payload HTML. Pure
    * `regexp_replace` Column composition plus ONE native expression
    * ([[decodeHtmlEntities]]) — codegen'd end to end, map-side inside the
    * parquet scan stage at any scale, no UDF, no shuffle.
    *
    * Stages, in a deliberately fixed order:
    *  1. comments `<!-- … -->` removed (unterminated → dropped to end);
    *  2. `<script>`/`<style>` SUBTREES removed — their character data is
    *     code, not text (unterminated → dropped to end);
    *  3. block-level tags (`p div br hr h1–h6 li ul ol dl dt dd table
    *     thead tbody tfoot tr td th blockquote pre section article aside
    *     header footer nav form figure figcaption main address`) become
    *     newlines, so paragraph structure survives as line structure;
    *  4. every remaining tag becomes a space (inline tags must not glue
    *     `…end<b>Start` into one token);
    *  5. entity decode — AFTER tag strip, so `&lt;script&gt;` becomes the
    *     literal text `<script>` and can never re-enter as markup;
    *  6. whitespace canonicalization: horizontal runs (space, tab, VT,
    *     FF, CR, NBSP) → one space, spaces trimmed around newlines,
    *     newline runs collapsed, ends trimmed.
    *
    * Defined-subset caveats (documented, fuzz-pinned in HtmlExtractSpec):
    * a `>` inside a QUOTED attribute value closes the tag early, and a
    * lone `<` swallows text up to the next `>` — torn markup degrades to
    * torn text, never to a crash. The regex chain is RE2-compatible
    * (`\z`, not Java's trailing-newline-exempt `$`), so the DuckDB
    * oracle replays it verbatim (q_t43). */
  def extractText(html: Column): Column = {
    val noComment = regexp_replace(html, "(?s)<!--.*?(-->|\\z)", " ")
    val noScript = regexp_replace(noComment,
      "(?is)<script\\b[^>]*>.*?(</script\\s*>|\\z)", " ")
    val noStyle = regexp_replace(noScript,
      "(?is)<style\\b[^>]*>.*?(</style\\s*>|\\z)", " ")
    val blocks = regexp_replace(noStyle,
      "(?i)</?(p|div|br|hr|h[1-6]|li|ul|ol|dl|dt|dd|table|thead|tbody" +
        "|tfoot|tr|td|th|blockquote|pre|section|article|aside|header" +
        "|footer|nav|form|figure|figcaption|main|address)\\b[^>]*>", "\n")
    val noTags = regexp_replace(blocks, "(?s)<[^>]*>", " ")
    val decoded = decodeHtmlEntities(noTags)
    val hws = regexp_replace(decoded, "[ \\t\\x0B\\f\\r\\x{A0}]+", " ")
    val trimmedLines = regexp_replace(hws, " ?\\n ?", "\n")
    trim(regexp_replace(trimmedLines, "\\n+", "\n"), " \n")
  }

  /** BPE-ish regex word count: alpha runs + digit runs + single symbols. */
  val wordRegex = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
  def regexTokenCount(text: Column): Column =
    regexp_count(text, lit(wordRegex)).cast("long")

  /** `size(filter(tokens(text), w -> w IN stopwords))` as one native
    * byte scan per row ([[graft.functions.TokenSetCount]]). Not a `filter`
    * lambda: a lambda keeps its plan node out of whole-stage codegen, and
    * the language-ID and quality screens call this five times per row. */
  def stopwordCount(text: Column, stopwords: Seq[String]): Column =
    graft.functions.GraftFunctions.tokenSetCount(text, stopwords)

  val EnglishStopwords = Seq("the", "a", "of", "and", "to")

  /** Heuristic quality score in [0,1]:
    *  0.4 * length score (saturates at 80 tokens)
    *  0.3 * lexical diversity (unique/total)
    *  0.3 * stopword naturalness (saturating ratio) */
  def qualityScore(text: Column): Column = {
    val n = tokenCount(text).cast("double")
    val uniq = uniqueTokenCount(text).cast("double")
    val stop = stopwordCount(text, EnglishStopwords).cast("double")
    lit(0.4) * least(lit(1.0), n / lit(80.0)) +
      lit(0.3) * (uniq / n) +
      lit(0.3) * least(lit(1.0), (stop / n) * lit(5.0))
  }

  /** Stopword marker sets per language for the n-gram/marker language-ID
    * heuristic. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to"),
    "es" -> Seq("el", "la", "los", "que", "y"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "les", "des", "et", "est"))

  /** ONE flat CaseWhen over ordered (condition, value) branches — the
    * required shape for every branch table built from a caller map.
    * The nested alternative (`foldRight` of `when(c, v)
    * .otherwise(nested)`) builds N CaseWhen LEVELS, and Catalyst's
    * optimizer flattens only one level per fixpoint pass — a
    * ~100-source mixture map exhausted the optimizer's 100-iteration
    * budget (the r18 test-log "Max iterations (100) reached"
    * warnings, reproduced and pinned by PlanSpec's fixpoint-budget
    * guard). Branch order is evaluation order, exactly like the
    * nested form, so results are identical. */
  private def flatCases(
      branches: Seq[(Column, Column)], default: Column): Column =
    branches match {
      case Seq() => default
      case (c0, v0) +: rest =>
        rest.foldLeft(when(c0, v0)) { case (acc, (c, v)) =>
          acc.when(c, v)
        }.otherwise(default)
    }

  /** Marker-vote language ID: the language with the most stopword hits wins;
    * ties resolve in LangMarkers order; no hits → "und". */
  def langId(text: Column): Column = {
    val counts = LangMarkers.map { case (lang, words) =>
      lang -> stopwordCount(text, words)
    }
    val cases = counts.zipWithIndex.map { case ((lang, c), i) =>
      val laterGE = counts.drop(i + 1)
        .map { case (_, c2) => c >= c2 }
        .foldLeft(lit(true))(_ && _)
      (c > 0 && laterGE, lit(lang))
    }
    flatCases(cases, lit("und"))
  }

  /** Deterministic train/val/test assignment from the md5 of the id —
    * reproducible across runs, engines, and repartitioning (no RNG).
    * First hex digit buckets 16 ways: 0-b → train (75%), c-d → val
    * (12.5%), e-f → test (12.5%). */
  def deterministicSplit(id: Column): Column = {
    val digit = substring(md5(id.cast("string").cast("binary")), 1, 1)
    when(digit.between("0", "b"), "train")
      .when(digit.between("c", "d"), "val")
      .otherwise("test")
  }

  /** Exact content fingerprint of the raw text. */
  def fingerprintRaw(text: Column): Column = md5(text.cast("binary"))

  /** Order-insensitive fingerprint: md5 over the sorted distinct token set —
    * robust to token reordering (rolling-hash-class document fingerprint). */
  def fingerprintContent(text: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(tokens(text)))).cast("binary"))

  /** Adjacent word bigrams ("a b c" → ["a b", "b c"]); empty array below 2
    * tokens (guarded — Spark's `sequence(1, 0)` would count DOWN). */
  def bigrams(text: Column): Column = ngrams(text, 2)

  /** Adjacent word n-grams, n ∈ [2, 5] ("a b c", n=3 → ["a b c"]); empty
    * array below n tokens (guarded — Spark's `sequence(1, 0)` would count
    * DOWN). The upper bound is a boilerplate-mining practicality, not a
    * technical limit: each +1 widens every row of [[topNgrams]]'s first
    * explode by one token, and 5-grams already pin template boilerplate.
    *
    * PER-ROW-SCALE CAVEAT: `element_at` inside the positional lambda
    * re-evaluates the un-aliased `tokens(text)` subtree PER ELEMENT
    * (Catalyst does not CSE across higher-order-function lambda
    * boundaries), making this form O(len²) per document — measured 19×
    * on multi-KB docs. Fine for snippets/chunks; corpus operators must
    * materialize the token array as a real column first and use
    * [[ngramsFrom]] ([[topNgrams]] does exactly that). */
  def ngrams(text: Column, n: Int): Column = ngramsFrom(tokens(text), n)

  /** [[ngrams]] over an already-MATERIALIZED token-array column — the
    * corpus-scale form: each `element_at` is then an O(1) array index.
    * Bound 16 (vs the mining API's advertised 5): decontamination screens
    * standardly collide on 8–13-gram shingles. */
  private[operators] def ngramsFrom(t: Column, n: Int): Column = {
    require(n >= 2 && n <= 16, s"n-gram size must be in [2, 16], got $n")
    when(size(t) >= n,
      transform(sequence(lit(1), size(t) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(j => element_at(t, i + j)): _*)))
      .otherwise(array().cast("array<string>"))
  }

  /** Gopher-style repetition signal: the most frequent bigram's share of
    * all bigrams. Highly repetitive (boilerplate, keyword-stuffed, looped)
    * text concentrates mass in one bigram; natural text does not.
    *
    * SHORT-TEXT ONLY: this per-row HOF form is O(unique·total) interpreted
    * lambda calls per document — measured 160s over 5k multi-KB docs where
    * the aggregation form takes 1s. Use [[repetitionScreen]] for corpora;
    * this stays for chunk/snippet-level scoring inside a projection. */
  def topBigramFraction(text: Column): Column = {
    val gs = bigrams(text)
    val top = array_max(transform(array_distinct(gs),
      g => size(filter(gs, x => x === g))))
    top.cast("double") / size(gs)
  }

  /** Corpus-scale repetition screen, shaped as a ZERO-shuffle narrow map:
    * the statistic is per-document independent, so each document's bigram
    * counts live in one short-lived per-row table — nothing per-bigram ever
    * crosses the wire (the earlier explode → two-level hash-agg formulation
    * shuffled a (doc, bigram, count) partial per distinct bigram and
    * dominated the whole benchmark). Tokens are interned to dense int ids
    * and adjacent pairs counted in an open-addressing long→long table, so
    * counting is EXACT (no hash-collision merging) and allocation-free per
    * bigram. O(total bigrams) work, one pass; the only exchange is
    * Dedup.fanOut's bounded spread of the raw text (the single-file-
    * parallelism trade its scaladoc documents). Documents with fewer than
    * 2 tokens produce no row (no bigrams to judge).
    *
    * The id column keeps its source type (long, string, …) — the operator
    * carries it through untouched rather than casting, so non-numeric ids
    * survive and numeric-string ids cannot collapse ("7" vs "07").
    *
    * @return doc_id (source id type), n_bigrams, top_bigram_frac, verdict
    *         ('drop' when the top bigram holds ≥ dropAt of all bigrams) */
  def repetitionScreen(
      docs: org.apache.spark.sql.DataFrame, id: String, text: String,
      dropAt: Double = 0.05): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val prepped = Dedup.fanOut(docs).select(col(id), col(text))
    val outSchema = StructType(Seq(
      prepped.schema.fields(0).copy(name = "doc_id"),
      StructField("n_bigrams", LongType, nullable = false),
      StructField("top_bigram_frac", DoubleType, nullable = false),
      StructField("verdict", StringType, nullable = false)))
    // Dataset.mapPartitions with an explicit Row encoder (NOT .rdd, which
    // a streaming input rejects — this one code path serves batch and
    // readStream alike)
    prepped.mapPartitions { it: Iterator[Row] =>
      it.flatMap { r =>
        val t = if (r.isNullAt(1)) null else r.getString(1)
        repetitionJudgment(t, dropAt) match {
          case None => Iterator.empty
          case Some((nBigrams, frac, keep)) =>
            Iterator.single(Row(r.get(0), nBigrams, frac,
              if (keep) "keep" else "drop"))
        }
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** The ONE repetition judgment shared by [[repetitionScreen]] and the
    * curation pipeline's inline screen — a single definition so the
    * certified operator and the pipeline can never silently diverge on
    * tokenization or the threshold boundary.
    *
    * Tokenization is exactly Spark's `split(text, " ")`: regex, limit
    * -1 (keep empties). @return None when the document has < 2 tokens
    * (no bigrams to judge), else (n_bigrams, top_bigram_frac, keep)
    * with keep ⇔ frac < dropAt. */
  private[graft] def repetitionJudgment(
      text: String, dropAt: Double): Option[(Long, Double, Boolean)] = {
    val toks = if (text == null) Array.empty[String] else text.split(" ", -1)
    if (toks.length < 2) None
    else {
      val frac = topBigramFracOf(toks)
      Some(((toks.length - 1).toLong, frac, frac < dropAt))
    }
  }

  /** The linear per-document top-bigram-fraction core of
    * [[repetitionScreen]]: tokens interned to dense ids, adjacent pairs
    * counted in an open-addressing table — exact, allocation-free per
    * bigram. Shared with the composed streaming screen so every caller
    * gets the O(tokens) path, never the quadratic HOF formulation.
    * Requires ≥ 2 tokens. */
  private[graft] def topBigramFracOf(toks: Array[String]): Double = {
    val intern = new java.util.HashMap[String, Integer](
      math.min(toks.length * 2, 1 << 16))
    val counts = new LongCounter(toks.length - 1)
    var prev = -1
    var top = 0L
    var i = 0
    while (i < toks.length) {
      var tid = intern.get(toks(i))
      if (tid == null) {
        tid = Integer.valueOf(intern.size)
        intern.put(toks(i), tid)
      }
      if (i > 0) {
        val c = counts.increment(
          (prev.toLong << 32) | (tid.intValue & 0xffffffffL))
        if (c > top) top = c
      }
      prev = tid.intValue
      i += 1
    }
    top.toDouble / (toks.length - 1).toDouble
  }

  /** Open-addressing long→long counter (linear probing, power-of-two
    * capacity, grows at 60% load). Key 0 is reserved via a +1 shift — pair
    * keys here are token-id pairs, never Long.MaxValue, so the shift is
    * safe. Exists to count per-document bigrams without boxing a JVM
    * object per increment. */
  private final class LongCounter(expected: Int) {
    private var cap = java.lang.Integer.highestOneBit(
      math.max(16, expected * 2) - 1) << 1
    private var keys = new Array[Long](cap)
    private var vals = new Array[Long](cap)
    private var n = 0

    /** Add 1 to `key0`'s count; returns the new count. */
    def increment(key0: Long): Long = {
      val key = key0 + 1 // shift so 0 means empty slot
      var idx = (java.lang.Long.hashCode(key * 0x9E3779B97F4A7C15L)
        & (cap - 1))
      while (true) {
        val k = keys(idx)
        if (k == key) { vals(idx) += 1; return vals(idx) }
        if (k == 0L) {
          keys(idx) = key; vals(idx) = 1L; n += 1
          if (n * 5 > cap * 3) grow()
          return 1L
        }
        idx = (idx + 1) & (cap - 1)
      }
      0L // unreachable
    }

    private def grow(): Unit = {
      val ok = keys; val ov = vals
      cap <<= 1
      keys = new Array[Long](cap); vals = new Array[Long](cap)
      var i = 0
      while (i < ok.length) {
        if (ok(i) != 0L) {
          var idx = (java.lang.Long.hashCode(ok(i) * 0x9E3779B97F4A7C15L)
            & (cap - 1))
          while (keys(idx) != 0L) idx = (idx + 1) & (cap - 1)
          keys(idx) = ok(i); vals(idx) = ov(i)
        }
        i += 1
      }
    }
  }

  /** Greedy sequence packing: assign documents to training shards of
    * ~`budgetTokens` tokens each, packing WITHIN `groupCol` partitions
    * (source, split, …) in deterministic `id` order. A document belongs to
    * the shard its cumulative starting offset falls in — the standard
    * greedy packer.
    *
    * Scale shape — a distributed prefix sum, NOT a per-group window: a
    * window `partitionBy(groupCol)` serializes each group through one task,
    * which degenerates when `groupCol` is low-cardinality (one source =
    * one task = the whole corpus). Instead:
    *  1. range-repartition + sort by (group, id) — a parallel sort whose
    *     partition count is independent of group cardinality, so a single
    *     giant group still spreads over all tasks;
    *  2. per partition, report token totals of its FIRST and LAST group
    *     only (interior groups cannot cross a sorted range boundary, so
    *     their cross-partition offset is zero by construction) — at most
    *     2 entries per partition to the driver, regardless of corpus size;
    *  3. per partition, a running sum seeded with the broadcast offset of
    *     each boundary group yields every row's exact global start offset.
    * Both passes share one range shuffle (same RDD ⇒ shuffle reuse); the
    * offsets table is O(partitions), never O(rows) or O(groups).
    *
    * @param counter per-document token budget as a Column over the text
    *        column — defaults to the whitespace [[tokenCount]]; pass e.g.
    *        `size(GraftFunctions.wordpieceTokens(_, vocab))` to budget in
    *        real subword tokens (q_t18's counter)
    * @return id, groupCol, n_tokens, shard_id (0-based within group) */
  def packShards(
      docs: org.apache.spark.sql.DataFrame, id: String, text: String,
      groupCol: String, budgetTokens: Long,
      counter: Column => Column = tokenCount,
      orderCol: Option[String] = None): org.apache.spark.sql.DataFrame = {
    require(budgetTokens > 0, s"budgetTokens must be positive: $budgetTokens")
    val spark = docs.sparkSession
    val prepped = docs
      .select((Seq(col(id), col(groupCol),
        counter(col(text)).cast("long").as("n_tokens"))
        ++ orderCol.map(col)): _*)
    // within-group pack order: (orderCol?, id) — id alone by default;
    // tokenBudgetSample passes a hash key for an order-uniform draw
    val sortKeys = Seq(col(groupCol)) ++ orderCol.map(col) :+ col(id)
    val nPart = math.max(spark.sparkContext.defaultParallelism, 1)
    // explicit numPartitions: AQE must not coalesce a small shuffle down to
    // one partition, or the giant-group parallelism claim dies quietly
    val rows = prepped
      .repartitionByRange(nPart, sortKeys: _*)
      .sortWithinPartitions(sortKeys: _*)
      .rdd
    def tokensOf(r: org.apache.spark.sql.Row): Long =
      if (r.isNullAt(2)) 0L else r.getLong(2)
    // pass 1: boundary-group totals per partition
    val boundaries: Array[(Int, Array[(Any, Long)])] =
      rows.mapPartitionsWithIndex { (pi, it) =>
        val acc = new scala.collection.mutable.ArrayBuffer[(Any, Long)](2)
        var curG: Any = null
        var started = false
        var tot = 0L
        it.foreach { r =>
          val g = r.get(1)
          if (started && java.util.Objects.equals(g, curG)) tot += tokensOf(r)
          else {
            if (started) acc += ((curG, tot))
            curG = g; tot = tokensOf(r); started = true
          }
        }
        if (started) acc += ((curG, tot))
        // only the first and last group can span a sorted range boundary
        val trimmed =
          if (acc.length <= 2) acc.toArray
          else Array(acc.head, acc.last)
        Iterator.single((pi, trimmed))
      }.collect()
    // prefix totals per boundary group, in partition order
    val cum = scala.collection.mutable.HashMap.empty[Any, Long]
    val offsets: Map[Int, Map[Any, Long]] =
      boundaries.sortBy(_._1).map { case (pi, bs) =>
        pi -> bs.map { case (g, tot) =>
          val off = cum.getOrElse(g, 0L)
          cum(g) = off + tot
          g -> off
        }.toMap
      }.toMap
    val bcOffsets = spark.sparkContext.broadcast(offsets)
    // pass 2: running sum per partition, seeded at group changes
    val outRows = rows.mapPartitionsWithIndex { (pi, it) =>
      val off = bcOffsets.value.getOrElse(pi, Map.empty[Any, Long])
      var curG: Any = null
      var started = false
      var run = 0L
      it.map { r =>
        val g = r.get(1)
        if (!started || !java.util.Objects.equals(g, curG)) {
          started = true; curG = g; run = off.getOrElse(g, 0L)
        }
        val start = run
        run += tokensOf(r)
        org.apache.spark.sql.Row.fromSeq(
          r.toSeq :+ (start / budgetTokens))
      }
    }
    spark.createDataFrame(outRows,
      org.apache.spark.sql.types.StructType(prepped.schema.fields :+
        org.apache.spark.sql.types.StructField("shard_id",
          org.apache.spark.sql.types.LongType, nullable = false)))
  }

  /** Largest corpus the exact-percentile path of [[lmBuckets]] will
    * accept: Spark's `percentile` is a TypedImperativeAggregate that
    * buffers every value, so the final merge holds one xent per
    * document on a single task. 16 M docs ≈ a few hundred MB of
    * OpenHashMap — comfortably inside one executor; beyond that the
    * approximate path is the only sane shape.
    *
    * The limit applies to INPUT rows (the fail-fast guard counts the id
    * column before scoring), not scored documents: lmScore drops <2-token
    * docs and collapses duplicate ids, so a corpus slightly over the
    * limit that would shrink under it after scoring is still refused —
    * deliberately conservative (refuse, never OOM). For non-deterministic
    * inputs (e.g. a `.sample()` frame) the counted rows can differ from
    * the rows later scored; the guard is advisory for such sources. */
  val LmBucketsExactMaxDocs: Long = 1L << 24

  /** CCNet head/middle/tail selection (Wenzek et al.): bucket every
    * document by its [[lmScore]] cross-entropy against the corpus
    * tertiles — head = most fluent third, tail = least. This is the
    * selection step CCNet actually trains on (keep head+middle, or
    * sample tail at a reduced rate).
    *
    * Two threshold modes:
    *  - `exact = true` (default): exact interpolated percentiles
    *    (Spark `percentile` ≡ DuckDB `quantile_cont`, the q_e6
    *    precedent) over the fixed-point-stable xent — hash-certifiable,
    *    but the single aggregate buffers one xent per document, so the
    *    path refuses corpora above [[LmBucketsExactMaxDocs]] with a
    *    loud error instead of OOM-ing an executor.
    *  - `exact = false`: `approx_percentile` (GK sketch, bounded
    *    memory at any corpus size) with `accuracyInverseEps` controlling
    *    rank error ≤ n/accuracy. Bucket labels can differ from the
    *    exact path only for documents within that rank band — plus one
    *    rank position, because the exact path interpolates between
    *    values while the sketch returns an actual element — of a
    *    tertile boundary (agreement spec-pinned in LmBucketsSpec).
    *
    * Scale shape: [[lmScore]]'s hash-keyed passes plus one 1-row
    * threshold aggregate broadcast back — the corpus is never shuffled
    * for the bucketing itself.
    *
    * @return id column, n_trans, xent, bucket (head|middle|tail) */
  def lmBuckets(
      docs: org.apache.spark.sql.DataFrame, id: String, text: String,
      minCount: Long = 2L, exact: Boolean = true,
      accuracyInverseEps: Int = 10000): org.apache.spark.sql.DataFrame = {
    // validated HERE, not where the SQL string interpolates: a zero or
    // negative accuracy would surface as a confusing analysis error deep
    // inside approx_percentile instead of an argument error
    require(accuracyInverseEps >= 1,
      s"accuracyInverseEps must be >= 1 (rank error <= n/accuracy): " +
        s"$accuracyInverseEps")
    if (exact) {
      // fail-fast BEFORE the scoring pipeline runs: scored rows <= input
      // docs, so an over-limit corpus is refused at the cost of one
      // column-pruned count instead of after the full hash-keyed LM passes
      val nIn = docs.select(col(id)).count()
      require(nIn <= LmBucketsExactMaxDocs,
        s"lmBuckets(exact=true) buffers one xent per document in a single " +
          s"percentile aggregate; corpus has $nIn docs > $LmBucketsExactMaxDocs. " +
          "Pass exact=false for the bounded-memory approx_percentile path.")
    }
    // the score table feeds both the threshold aggregate and the final
    // label join — materialize it once (3 narrow columns per doc; the
    // alternative re-runs the whole LM scoring pipeline, measured 2x)
    val x = lmScore(docs, id, text, minCount).localCheckpoint()
    val thresholds =
      if (exact) x.agg(
        expr("percentile(xent, CAST(1 AS DOUBLE)/3)").as("t1"),
        expr("percentile(xent, CAST(2 AS DOUBLE)/3)").as("t2"))
      else x.agg(
        expr(s"approx_percentile(xent, CAST(1 AS DOUBLE)/3, $accuracyInverseEps)").as("t1"),
        expr(s"approx_percentile(xent, CAST(2 AS DOUBLE)/3, $accuracyInverseEps)").as("t2"))
    x.crossJoin(broadcast(thresholds))
      .select(col(id), col("n_trans"), col("xent"),
        when(col("xent") <= col("t1"), "head")
          .when(col("xent") <= col("t2"), "middle")
          .otherwise("tail").as("bucket"))
  }

  /** Bounded-memory frequent tokens via the Misra–Gries summary
    * aggregate ([[graft.functions.FrequentItemsSketch]]): one pass, at
    * most `capacity` counters per partial, map-side combined — the
    * heavy-hitters answer when token cardinality dwarfs memory (exact
    * [[topWords]] keys an aggregation by every distinct token; this
    * never holds more than a few KB per task at ANY corpus size). Every
    * token occurring more than N/(capacity+1) times is guaranteed
    * present, and estimates undercount by at most N/(capacity+1)
    * (spec-pinned against exact counts). Estimates depend on encounter
    * order (inherent to MG) → rows-only certification.
    *
    * @return token, est_count (heaviest first, est ties by token) */
  def frequentTokens(
      docs: org.apache.spark.sql.DataFrame, id: String, text: String,
      capacity: Int): org.apache.spark.sql.DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs
      .select(explode(tokens(col(text))).as("tok"))
      .where(length(col("tok")) > 0)
      .select(graft.functions.GraftFunctions
        .frequentItemsSketch(col("tok"), capacity).as("s"))
      .select(explode(col("s")).as("e"))
      .select(col("e.item").as("token"), col("e.cnt").as("est_count"))
  }

  /** Exact token-budget subcorpus: the documents whose cumulative token
    * count, taken in deterministic `md5(seed‖id)` order, starts under
    * `budgetTokens` — "give me exactly ~10B tokens of this corpus" as an
    * operator. Hash order makes the draw uniform and reproducible (no
    * RNG, no engine dependence), and exactly one document straddles the
    * budget boundary (the standard take-until-full semantics: a document
    * is in iff the budget was not yet exhausted when its turn came).
    *
    * Scale shape: rides [[packShards]]' two-pass distributed prefix sum —
    * a range partition on the hash key, per-partition boundary totals
    * (≤ 2 rows each to the driver), offsets broadcast back — so no
    * corpus-wide window and no single-task sort, at any corpus size.
    *
    * @return id, n_tokens (survivors only) */
  def tokenBudgetSample(
      docs: org.apache.spark.sql.DataFrame, id: String, text: String,
      budgetTokens: Long, seed: String = "budget",
      counter: Column => Column = tokenCount)
      : org.apache.spark.sql.DataFrame = {
    val hk = md5(concat(lit(seed), col(id).cast("string")).cast("binary"))
    packShards(
      docs.select(col(id), col(text), hk.as("budget_key"),
        lit("all").as("__g")),
      id, text, "__g", budgetTokens, counter, orderCol = Some("budget_key"))
      .where(col("shard_id") === 0)
      .select(col(id), col("n_tokens"))
  }

  /** Deterministic stratified sampling: per-stratum keep rates applied via
    * an md5-prefix threshold (the q_t7 trick generalized) — reproducible
    * across runs, engines, and repartitioning, no RNG. A document is kept
    * iff the first 4 hex digits of md5(id) fall below
    * floor(rate·65536) in hex; md5 prefixes are uniform, so the realized
    * rate converges to the requested one per stratum. */
  def stratifiedKeep(
      id: Column, stratum: Column,
      rates: Map[String, Double], defaultRate: Double): Column = {
    // rate >= 1.0 maps to 'g000' — lexicographically above every hex
    // prefix, so keep-everything is expressible ('ffff' < 'g000'); the
    // strict '<' against a clamped 'ffff' would silently drop the
    // ~1/65536 ids whose md5 starts with ffff. The 65535 clamp guards the
    // last half-ulp below 1.0: rate·65536 can ROUND to exactly 65536.0,
    // whose "%04x" is the 5-char "10000" — lexicographically tiny, so an
    // almost-keep-everything rate would keep almost nothing
    def hexThreshold(rate: Double): String =
      if (rate >= 1.0) "g000"
      else f"${math.min(65535L, math.max(0L, (rate * 65536).toLong))}%04x"
    val prefix = substring(md5(id.cast("string").cast("binary")), 1, 4)
    val byStratum = flatCases(
      rates.toSeq.sortBy(_._1).map { case (s, r) =>
        (stratum === s, lit(hexThreshold(r)))
      },
      lit(hexThreshold(defaultRate)))
    prefix < byStratum
  }

  /** Domain-mixture sampling: downsample each source so the sampled
    * corpus's TOKEN mass approximates a target mixture — the data-mixing
    * step in front of training (e.g. "30% web, 30% code, 20% books, 20%
    * papers"). Given target weights `w_s` and observed per-source token
    * totals `t_s`, the largest budget the corpus supports without
    * upsampling is `B = min_s(t_s / w_s)` (the scarcest source relative to
    * its weight binds); each source then keeps rate `w_s·B / t_s` of its
    * documents (the binding source keeps everything). Sampling is the
    * deterministic md5-prefix threshold of [[stratifiedKeep]] — no RNG,
    * reproducible across runs, engines, partitioning.
    *
    * Scale shape: one map-side hash-agg for per-source totals (a
    * sources-sized result), budget as a 1-row aggregate, rates joined back
    * as a broadcast — corpus rows are scanned twice and never shuffled.
    * Sources without a weight are dropped (weight 0 in the target mix).
    * All rate arithmetic is plain IEEE ·/÷ that the SQL oracle reproduces
    * bit-for-bit.
    *
    * @param counter per-document token budget as a Column over the text
    *        column — defaults to whitespace [[tokenCount]]; pass e.g.
    *        `t => size(GraftFunctions.wordpieceTokens(t, vocab))` to state
    *        the mixture in real subword tokens (q_t20's counter)
    * @return id, source, n_tokens, rate, keep */
  def mixtureSample(
      docs: org.apache.spark.sql.DataFrame, id: String, text: String,
      sourceCol: String, weights: Map[String, Double],
      counter: Column => Column = tokenCount): org.apache.spark.sql.DataFrame = {
    require(weights.nonEmpty, "mixtureSample needs at least one weight")
    require(weights.values.forall(_ > 0),
      s"mixture weights must be positive: $weights")
    val t = docs.select(col(id), col(sourceCol),
      counter(col(text)).cast("long").as("n_tokens"))
    val totals = t.groupBy(sourceCol).agg(sum("n_tokens").as("src_tokens"))
    val wCol = flatCases(
      weights.toSeq.sortBy(_._1).map { case (s0, w) =>
        (col(sourceCol) === s0, lit(w))
      },
      lit(null).cast("double"))
    val weighted = totals.withColumn("w", wCol).filter(col("w").isNotNull)
    val budget = weighted
      .agg(min(col("src_tokens").cast("double") / col("w")).as("budget"))
    val rates = weighted.crossJoin(broadcast(budget))
      .select(col(sourceCol),
        (col("w") * col("budget") / col("src_tokens")).as("rate"))
    // md5-prefix keep threshold; 'g000' sorts above every hex prefix so
    // rate ≥ 1 keeps all rows, and the 65535 clamp guards the half-ulp-
    // below-1 rounding to "10000" (see stratifiedKeep)
    val thr = when(col("rate") >= 1.0, lit("g000"))
      .otherwise(format_string("%04x",
        least(floor(col("rate") * lit(65536.0)).cast("long"), lit(65535L))))
    t.join(broadcast(rates), Seq(sourceCol))
      .select(col(id), col(sourceCol), col("n_tokens"), col("rate"),
        (substring(md5(col(id).cast("string").cast("binary")), 1, 4) < thr)
          .as("keep"))
  }

  /** Mixture RESAMPLING with upsampling — the "epochs" data recipe: reach
    * a target token mixture when scarce, high-value sources may REPEAT
    * (e.g. "web 50%, books 30%, papers 20%, books seen up to 3×").
    * Unlike [[mixtureSample]] (pure downsampling, budget bound by the
    * scarcest source), the budget here is chosen: target total =
    * `totalMultiple` × the weighted sources' token mass, and
    * `factor_s = w_s·T / t_s` may exceed 1 — every document of that
    * source emits ⌊factor⌋ full copies plus one fractional copy kept by
    * the same md5-prefix threshold as the samplers (deterministic, no
    * RNG). Same scale shape as mixtureSample: per-source totals map-side,
    * factors broadcast back, corpus rows never shuffle; the caller
    * explodes `n_copies` (`explode(sequence(1, n_copies))`) when
    * materializing.
    *
    * @param counter per-document token budget (defaults to whitespace
    *        [[tokenCount]]; same pluggable counter as [[mixtureSample]] /
    *        [[packShards]], e.g. wordpiece subword counts)
    * @return id, source, n_tokens, factor, n_copies */
  def mixtureResample(
      docs: org.apache.spark.sql.DataFrame, id: String, text: String,
      sourceCol: String, weights: Map[String, Double],
      totalMultiple: Double,
      counter: Column => Column = tokenCount): org.apache.spark.sql.DataFrame = {
    require(weights.nonEmpty, "mixtureResample needs at least one weight")
    require(weights.values.forall(_ > 0),
      s"mixture weights must be positive: $weights")
    require(totalMultiple > 0, s"bad total multiple: $totalMultiple")
    // unlike mixtureSample (rate = w·B/t with B = min t/w cancels any
    // weight scale), the factors here multiply straight into the target:
    // unnormalized weights would silently scale the emitted corpus by
    // sum(w) — demand the mixture be stated as shares
    require(math.abs(weights.values.sum - 1.0) < 1e-9,
      s"mixture weights must sum to 1 (shares of the target): " +
        s"${weights.values.sum}")
    val t = docs.select(col(id), col(sourceCol),
      counter(col(text)).cast("long").as("n_tokens"))
    val totals = t.groupBy(sourceCol).agg(sum("n_tokens").as("src_tokens"))
    val wCol = flatCases(
      weights.toSeq.sortBy(_._1).map { case (s0, w) =>
        (col(sourceCol) === s0, lit(w))
      },
      lit(null).cast("double"))
    val weighted = totals.withColumn("w", wCol).filter(col("w").isNotNull)
    val target = weighted
      .agg((sum(col("src_tokens")) * lit(totalMultiple)).as("target"))
    val factors = weighted.crossJoin(broadcast(target))
      .select(col(sourceCol),
        (col("w") * col("target") / col("src_tokens")).as("factor"))
    val frac = col("factor") - floor(col("factor"))
    // clamp: frac·65536 can round to exactly 65536.0 in the last half-ulp
    // below 1, and "%04x" of 65536 is the 5-char "10000" — an almost-
    // always-extra-copy fraction would otherwise emit almost none
    val thr = format_string("%04x",
      least(floor(frac * lit(65536.0)).cast("long"), lit(65535L)))
    t.join(broadcast(factors), Seq(sourceCol))
      .select(col(id), col(sourceCol), col("n_tokens"), col("factor"),
        (floor(col("factor")).cast("long") +
          when(substring(md5(col(id).cast("string").cast("binary")), 1, 4)
            < thr, 1L).otherwise(0L)).as("n_copies"))
  }

  /** Temperature-scaled mixture resampling — the multilingual α-sampling
    * rule (mC4 / XLM-R shape): source i's share of the emitted corpus is
    * proportional to its token share raised to `alpha`. α = 1 keeps
    * natural proportions; α → 0 flattens toward uniform, upsampling
    * scarce sources — THE standard knob for low-resource balance.
    *
    * The weights derive from the corpus itself: per-source token totals
    * (one tiny aggregation; #sources rows to the driver, a bounded model
    * artifact like the quantizer sample) are raised to α and FIXED-POINT
    * rounded at 1e-6 before normalizing — the rounded longs sum
    * order-free, so the derived shares are bit-reproducible across runs
    * and recomputable by a SQL oracle (a raw double Σ pow would depend on
    * driver collect order). Emission is [[mixtureResample]] unchanged:
    * same factor tree, same md5-threshold fractional-copy determinism.
    *
    * @return [[mixtureResample]]'s per-document schema */
  def temperatureResample(
      docs: org.apache.spark.sql.DataFrame, id: String, text: String,
      sourceCol: String, alpha: Double, totalMultiple: Double = 1.0,
      counter: Column => Column = tokenCount)
      : org.apache.spark.sql.DataFrame = {
    require(alpha > 0 && alpha <= 1, s"temperature alpha in (0,1]: $alpha")
    val totals = docs
      .select(col(sourceCol), counter(col(text)).cast("long").as("__n"))
      .groupBy(sourceCol).agg(sum("__n").as("__c"))
      .collect()
    require(totals.nonEmpty, "temperatureResample needs a non-empty corpus")
    require(totals.length <= 100000,
      s"${totals.length} sources — the per-source weight table must stay " +
        "a bounded driver artifact")
    val wq = totals
      .filter(r => !r.isNullAt(0) && !r.isNullAt(1))
      .map(r => (r.getString(0),
        Math.round(Math.pow(r.getLong(1).toDouble, alpha) * 1000000.0)))
    // per-source quantized weights must not saturate Long (α = 1 on a
    // ~1e13-token source would): refuse loudly rather than mis-weight
    wq.foreach { case (s, q) =>
      require(q < Long.MaxValue,
        s"temperature weight for source '$s' overflows the 1e-6 " +
          "fixed-point quantization — lower alpha or pre-scale counts")
    }
    // BigInt sum: exact and order-free at any source count/magnitude
    // (DuckDB's BIGINT sum is a 128-bit HUGEINT — same semantics)
    val zq = wq.map(x => BigInt(x._2)).sum
    val weights = wq.map { case (s, q) => s -> (q.toDouble / zq.toDouble) }
      .toMap
    mixtureResample(docs, id, text, sourceCol, weights, totalMultiple,
      counter)
  }

  /** Per-document distinctive terms: top-k tokens by tf-idf, with a
    * RATIONAL idf — `score = tf · (N+1)/(df+1)` — instead of the usual
    * log form. Rational on purpose: the score stays inside exact IEEE
    * +/×/÷ arithmetic that DuckDB reproduces bit-for-bit, so the operator
    * is hash-certifiable (a transcendental `ln` may differ in the last
    * ulp across libms). Like log-idf it is strictly decreasing in df, so
    * rarity ordering at equal tf is identical; across mixed tf it weighs
    * rarity more sharply — fine for distinctive-term extraction, which
    * wants exactly that emphasis.
    *
    * Scale shape: one explode → (doc, tok) hash-agg for tf (map-side
    * partials), a (tok) hash-agg for df, corpus size joined in as a
    * 1-row broadcast aggregate (no driver-side count), and the top-k
    * window partitions per document — bounded by per-doc vocabulary,
    * never corpus-wide.
    *
    * @return doc_id, term, tf, df, score, rank (1..k) */
  def tfidfTopTerms(
      docs: org.apache.spark.sql.DataFrame, id: String, text: String,
      k: Int): org.apache.spark.sql.DataFrame = {
    val tf = Dedup.fanOut(docs)
      .select(col(id).as("doc_id"), explode(tokens(col(text))).as("term"))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score").desc, col("term"))
    tf.join(df, Seq("term"))
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        (col("tf").cast("double") * (col("n_docs") + lit(1L))
          / (col("df") + lit(1L))).as("score"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Linear quality-classifier inference (the fastText-style quality
    * filter shape): a handcrafted feature vector per document, a literal
    * weight vector, score = w·f + b, label = sign of the score. The
    * logistic link is monotone, so thresholding the LINEAR score at 0 is
    * the same decision as thresholding the probability at 0.5 — and the
    * linear score is pure rational IEEE arithmetic, which keeps the whole
    * operator hash-certifiable (a transcendental exp may differ in the
    * last ulp across libms). Map-side codegen'd Columns; at 100 TB this
    * runs inside the scan stage like every other screen.
    *
    * Features: token count (saturating /256), lexical diversity
    * (unique/total), stopword rate (×5 saturating), mean token length
    * (/8 saturating), long-token rate (≥8 chars). */
  def qualityClassifier(
      text: Column,
      weights: Seq[Double] = Seq(1.2, 1.5, 1.8, 0.6, -0.4),
      bias: Double = -2.0): Column = {
    require(weights.length == 5, s"5 features, got ${weights.length}")
    val n = tokenCount(text).cast("double")
    val f = Seq(
      least(lit(1.0), n / lit(256.0)),
      uniqueTokenCount(text).cast("double") / n,
      least(lit(1.0),
        (stopwordCount(text, EnglishStopwords).cast("double") / n)
          * lit(5.0)),
      least(lit(1.0), (length(text).cast("double") / n) / lit(8.0)),
      size(filter(tokens(text), w => length(w) >= 8)).cast("double") / n)
    f.zip(weights).foldLeft(lit(bias)) { case (acc, (fi, w)) =>
      acc + fi * lit(w)
    }
  }

  /** A trained hashed-token Naive Bayes quality model — what
    * [[trainQualityNb]] emits and the screen consumes. `weights(b)` is the
    * Laplace-smoothed log-odds of bucket `b` (log p(tok|pos) − log
    * p(tok|neg)); `bias` the smoothed class log-prior. Once trained, the
    * weights are LITERALS: [[score]] is a codegen'd sequential fold over
    * the token array against a literal array — pure rational IEEE given
    * fixed weights, no shuffle, runs inside the scan stage like
    * [[qualityClassifier]]. */
  final case class NbQualityModel(
      numBuckets: Int, weights: Array[Double], bias: Double) {
    require(weights.length == numBuckets,
      s"weights length ${weights.length} != numBuckets $numBuckets")

    /** Linear NB score: bias + Σ weights(bucket(token)); ≥ 0 decides
      * "curated-like" (same monotone-link reasoning as
      * [[qualityClassifier]]). */
    def score(text: Column): Column = {
      val w = typedLit(weights.toSeq)
      aggregate(tokens(text), lit(bias), (acc, t) =>
        acc + element_at(w, (nbBucket(t, numBuckets) + 1).cast("int")))
    }
  }

  /** Feature-hash bucket of a token: the first 4 hex digits of its md5,
    * mod `b` — md5 (not xxhash64) so a SQL oracle reproduces it
    * (`('0x' || substring(md5(tok),1,4))::BIGINT % b` in DuckDB). 4 hex
    * digits = 65536 raw cells, so `b` ≤ 65536. */
  def nbBucket(tok: Column, b: Int): Column =
    conv(substring(md5(tok.cast("binary")), 1, 4), 16, 10)
      .cast("long") % b

  /** The single training pass of [[trainQualityNb]]: per-bucket token
    * occurrences by class. One explode → one `b`-bounded hash-agg —
    * map-side partials carry (bucket, 2 longs), never tokens; at 100 TB
    * the exchange is `b` rows per task regardless of corpus size.
    *
    * @param isPos Boolean label Column evaluated on the doc row (e.g.
    *        `col("source") === "curated"` — the curated-vs-crawl loop)
    * @return bucket, n_pos, n_neg (occurrence counts) */
  def nbTrainCounts(
      docs: org.apache.spark.sql.DataFrame, text: String,
      isPos: Column, b: Int): org.apache.spark.sql.DataFrame = {
    require(b >= 2 && b <= 65536, s"nb buckets must be in [2, 65536]: $b")
    docs
      .select(isPos.as("__pos"), explode(tokens(col(text))).as("tok"))
      .select(col("__pos"), nbBucket(col("tok"), b).as("bucket"))
      .groupBy("bucket")
      .agg(sum(when(col("__pos"), 1L).otherwise(0L)).as("n_pos"),
        sum(when(!col("__pos"), 1L).otherwise(0L)).as("n_neg"))
  }

  /** Train the hashed-token Naive Bayes quality classifier in-engine —
    * the curated-vs-crawl labeling loop ([[qualityClassifier]] consumes
    * handcrafted literals; THIS produces learned ones). Multinomial NB
    * with Laplace smoothing over [[nbBucket]] feature hashes:
    *
    *   weights(b) = ln((n_pos(b)+1)/(posTok+B)) − ln((n_neg(b)+1)/(negTok+B))
    *   bias       = ln((posDocs+1)/(negDocs+1))
    *
    * Cost: ONE corpus pass for the bucket counts (`b`-bounded agg) + one
    * 1-row agg for the doc prior; the collected model is ≤ `b` rows of
    * 2 longs behind the [[nbBucket]] guard — a driver-side model artifact
    * like the IVF centroids. Logs via `StrictMath.log` (bit-identical
    * across platforms, computed once per bucket on the driver — inference
    * never evaluates a transcendental). */
  def trainQualityNb(
      docs: org.apache.spark.sql.DataFrame, text: String,
      isPos: Column, b: Int = 4096): NbQualityModel = {
    val counts = nbTrainCounts(docs, text, isPos, b).collect()
      .map(r => (r.getLong(0).toInt, r.getLong(1), r.getLong(2)))
    val posTok = counts.map(_._2).sum
    val negTok = counts.map(_._3).sum
    val prior = docs
      .agg(sum(when(isPos, 1L).otherwise(0L)).as("p"),
        sum(when(!isPos, 1L).otherwise(0L)).as("n"))
      .collect().head
    // sum() over an empty frame is null — read defensively so the empty
    // corpus hits the loud both-classes refusal, not an opaque NPE
    val posDocs = if (prior.isNullAt(0)) 0L else prior.getLong(0)
    val negDocs = if (prior.isNullAt(1)) 0L else prior.getLong(1)
    require(posDocs > 0 && negDocs > 0,
      s"NB training needs both classes: pos=$posDocs neg=$negDocs")
    val byBucket = counts.map(c => c._1 -> (c._2, c._3)).toMap
    val w = Array.tabulate(b) { i =>
      val (np, nn) = byBucket.getOrElse(i, (0L, 0L))
      StrictMath.log((np + 1).toDouble / (posTok + b)) -
        StrictMath.log((nn + 1).toDouble / (negTok + b))
    }
    NbQualityModel(b, w,
      StrictMath.log((posDocs + 1).toDouble / (negDocs + 1)))
  }

  /** Corpus-level frequent n-gram mining: the `k` most frequent n-grams
    * (n ∈ [2, 5], default bigrams) with their document frequency — the
    * builder for boilerplate / stop-phrase lists (the list a curation pass
    * later strips or down-weights).
    *
    * Scale shape: counting happens on `xxhash64(gram)` through BOTH
    * aggregation levels, so every exchange carries 16-byte (hash, count)
    * rows — never gram strings. (The earlier formulation shuffled the gram
    * string itself; natural-text n-grams are mostly per-doc-unique, so that
    * first shuffle carried nearly the whole corpus as strings — a ~100 TB
    * exchange at target scale, and the GC-churn outlier of the local
    * bench.) The hash-count frame is materialized once via
    * `localCheckpoint` (ContextCleaner-tracked, same lifecycle reasoning as
    * [[Similarity.ivfTopK]]), the k-th count is read back as a single
    * threshold long, and the winning gram STRINGS are recovered in one
    * bounded second pass: re-scan the corpus, broadcast-hash-semi-join each
    * gram's hash against the ≥threshold candidate set (k + boundary ties
    * rows), and only surviving grams reach the final tiny aggregation. Two
    * column-pruned scans + hash-width shuffles beat one scan + a
    * corpus-width string shuffle everywhere past toy scale.
    *
    * Ties resolve by gram (lexicographic) so the cut is deterministic and
    * the SQL oracle reproduces it; every hash tied at the boundary count is
    * kept as a candidate so the tie-break happens on recovered strings,
    * exactly as the single-pass form did. Distinct grams colliding on
    * xxhash64 would merge counts — at 2^64 that needs ~10^9 distinct grams
    * for even a ~3% corpus-wide chance of ONE collision, and a collision
    * must additionally land in the top-k to be visible.
    *
    * @return gram, n_occurrences, n_docs, rank (1..k) */
  /** Positional n-gram hashes from a MATERIALIZED token-hash array column,
    * WITHOUT building the gram strings: each token hashed once upstream,
    * each position hashes n longs — collision-equivalent to hashing the
    * gram text but allocation-free (the count pass of [[topNgrams]] never
    * needs the strings). Taking the materialized column (not the text)
    * matters for the same lambda-CSE reason [[ngramsFrom]] documents.
    * Both topNgrams passes use THIS hash so the candidate join keys
    * agree. */
  private def ngramHashesFrom(th: Column, n: Int): Column =
    when(size(th) >= n,
      transform(sequence(lit(1), size(th) - (n - 1)),
        i => xxhash64((0 until n).map(j => element_at(th, i + j)): _*)))
      .otherwise(array().cast("array<bigint>"))

  def topNgrams(
      docs: org.apache.spark.sql.DataFrame, id: String, text: String,
      k: Int, n: Int = 2): org.apache.spark.sql.DataFrame = {
    val prepped = Dedup.fanOut(docs)
      .select(col(id).as("__d"), col(text).as("__text"))
    val agg = prepped
      // token-hash array as a REAL column: element_at inside the gram
      // lambda must index it, not re-derive split+hash per element
      .withColumn("__th", transform(tokens(col("__text")), w => xxhash64(w)))
      .select(col("__d"), explode(ngramHashesFrom(col("__th"), n)).as("__h"))
      .groupBy("__d", "__h")
      .agg(count(lit(1)).as("__n"))
      .groupBy("__h")
      .agg(sum("__n").as("n_occurrences"), count(lit(1)).as("n_docs"))
      .localCheckpoint()
    // One bounded action: the k-th-largest occurrence count (a single
    // long), via TakeOrderedAndProject over the checkpointed hash counts.
    val kthRow = agg.orderBy(col("n_occurrences").desc).limit(k)
      .agg(min(col("n_occurrences"))).first()
    val thresh = if (kthRow.isNullAt(0)) Long.MaxValue else kthRow.getLong(0)
    val cands = agg.filter(col("n_occurrences") >= thresh)
    // recovery pass: gram strings built ONLY here, zipped to their hashes
    prepped
      .withColumn("__t", tokens(col("__text")))
      .withColumn("__th", transform(col("__t"), w => xxhash64(w)))
      .select(explode(zip_with(
        ngramsFrom(col("__t"), n), ngramHashesFrom(col("__th"), n),
        (g, h) => struct(g.as("gram"), h.as("__h")))).as("z"))
      .select(col("z.gram").as("gram"), col("z.__h").as("__h"))
      .join(broadcast(cands), Seq("__h"))
      .select(col("gram"), col("n_occurrences"), col("n_docs"))
      .distinct()
      .orderBy(col("n_occurrences").desc, col("gram"))
      .limit(k)
      .withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("n_occurrences").desc, col("gram"))).cast("long"))
  }

  /** Corpus-level frequent WORDS with document frequency — the n=1 end of
    * the miner family and the input to subword-vocabulary derivation.
    * Unlike [[topNgrams]] there is no hash indirection: words repeat
    * heavily within a document, so the first-level (doc, word) hash-agg
    * collapses to per-doc DISTINCT words map-side and the exchange is
    * vocabulary-shaped, not corpus-shaped (the property natural-text
    * n-grams lack — per-doc-unique grams were why topNgrams needed the
    * hash-count + recovery design). Ties resolve by word so the cut is
    * deterministic and the SQL oracle reproduces it.
    *
    * @return word, n_occurrences, n_docs, rank (1..k) */
  def topWords(
      docs: org.apache.spark.sql.DataFrame, id: String, text: String,
      k: Int): org.apache.spark.sql.DataFrame =
    Dedup.fanOut(docs)
      .select(col(id).as("__d"), explode(tokens(col(text))).as("word"))
      .groupBy("__d", "word")
      .agg(count(lit(1)).as("__n"))
      .groupBy("word")
      .agg(sum("__n").as("n_occurrences"), count(lit(1)).as("n_docs"))
      .orderBy(col("n_occurrences").desc, col("word"))
      .limit(k)
      .withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("n_occurrences").desc, col("word"))).cast("long"))

  /** Derive a deterministic wordpiece vocabulary FROM the corpus: the
    * `maxWords` most frequent whole words (frequent words tokenize as one
    * piece — the property a real trained vocab has) plus the ASCII
    * letters/digits as the fallback alphabet so clean text always
    * segments ([UNK] marks genuinely foreign characters only). Driver
    * sees exactly `maxWords` strings (a model artifact, like the k-means
    * quantizer sample — bounded, not corpus-sized). Replaces the toy
    * hand-listed vocab with the corpus-driven shape a production
    * tokenizer pipeline has; a trained BPE/WP vocab drops into the same
    * parameter. */
  def deriveVocab(
      docs: org.apache.spark.sql.DataFrame, id: String, text: String,
      maxWords: Int = 4096): Seq[String] = {
    require(maxWords > 0 && maxWords <= 262144,
      s"vocab size out of range: $maxWords")
    val words = topWords(docs, id, text, maxWords)
      .select("word").collect().map(_.getString(0)).toSeq
    (words ++ ('a' to 'z').map(_.toString) ++
      ('0' to '9').map(_.toString)).distinct
  }

  /** CCNet-style statistical LM quality scoring (Wenzek et al., LREC'20
    * shape): train an add-one-smoothed bigram language model ON the
    * corpus, then score every document by its per-transition
    * cross-entropy under that model. Low cross-entropy = fluent,
    * corpus-typical text; high = gibberish, boilerplate, wrong-language —
    * CCNet buckets documents head/middle/tail on exactly this score, and
    * it is the one classic quality filter a stats-only suite can train
    * with no external model artifact.
    *
    * P(w2|w1) = (c12 + 1) / (c1 + V) with c12 the corpus bigram count
    * (0 when pruned below `minCount` — CCNet prunes its KenLM the same
    * way; pruned transitions take the add-one floor), c1 the count of w1
    * as a transition context, V the distinct corpus vocabulary.
    * xent = Σ −ln P / n_trans, the sum as a fixed-point stable sum
    * (order-free, so the driver gate can hash it against a DuckDB
    * recomputation).
    *
    * Scale shape: the LM trains and scores entirely on `xxhash64(token)`
    * keys — every exchange carries hash-width rows, never token strings
    * (the [[topNgrams]] lesson). The token-hash frame and the transition
    * frame are materialized once (`localCheckpoint`) and shared by the
    * vocabulary count, both LM aggregations and the scoring join; the LM
    * join carries NO broadcast hint — a corpus-trained bigram table is
    * vocabulary-shaped (sublinear, Heaps' law), so AQE broadcasts it when
    * it fits and falls back to a hash-width shuffle join when it does
    * not. Documents with fewer than two tokens have no transitions and
    * are absent from the output.
    *
    * @return id column, n_trans, xent */
  def lmScore(
      docs: org.apache.spark.sql.DataFrame, id: String, text: String,
      minCount: Long = 1L): org.apache.spark.sql.DataFrame = {
    require(minCount >= 1, s"bad minCount: $minCount")
    val (trans, v) = lmCounts(docs, id, text)
    val big = trans.groupBy("h1", "h2").agg(count(lit(1)).as("__c12"))
      .localCheckpoint()
    val ctx = big.groupBy("h1").agg(sum("__c12").as("__c1"))
    val lm = big.filter(col("__c12") >= minCount)
    val p = (coalesce(col("__c12"), lit(0L)) + lit(1L)).cast("double") /
      (col("__c1") + lit(v)).cast("double")
    trans
      .join(lm, Seq("h1", "h2"), "left_outer")
      .join(ctx, Seq("h1"))
      .groupBy(col("__d"))
      .agg(count(lit(1)).as("n_trans"),
        ((sum(round(-log(p) * lit(1000000.0)).cast("long")) /
          lit(1000000.0)) / count(lit(1))).as("xent"))
      .select(col("__d").as(id), col("n_trans"), col("xent"))
  }

  /** The 8-word presence list the Gopher rules probe ("contains at least
    * 2 of ..."): a crude but battle-tested natural-English detector. */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher-style heuristic quality rules (Rae et al., arXiv:2112.11446,
    * Table A1's core document filters): word-count bounds, mean word
    * length bounds, symbol-to-word ratio ('#' and '...' — the markup/
    * truncation tell), alphabetic-word ratio, and the 8-stopword presence
    * probe. The standard first-pass filter of every large-scale curation
    * stack, complementary to [[qualityScore]] (continuous score) and
    * [[lmScore]] (model-based): rules are cheap, interpretable and
    * threshold-editable per corpus. Pure Column projections — one scan,
    * no shuffle, streaming-capable by construction; every number is
    * SQL-portable so the whole rule set is oracle-certifiable.
    *
    * @return id column, n_words, mean_word_len, symbol_ratio,
    *         alpha_word_ratio, n_stop_hits, verdict ('keep'/'drop') */
  private def gopherMeanWordLen(t: Column): Column =
    aggregate(t, lit(0L), (acc, w) => acc + length(w).cast("long"))
      .cast("double") / size(t).cast("long")

  private def gopherSymbolRatio(text: Column, t: Column): Column = {
    val hashMarks =
      (length(text) - length(replace(text, lit("#"), lit("")))).cast("long")
    val ellipses =
      ((length(text) - length(replace(text, lit("..."), lit(""))))
        / lit(3)).cast("long")
    (hashMarks + ellipses).cast("double") / size(t).cast("long")
  }

  private def gopherAlphaRatio(t: Column): Column =
    size(filter(t, w => w.rlike("[A-Za-z]"))).cast("double") /
      size(t).cast("long")

  private def gopherStopHits(t: Column): Column = GopherStopwords
    .map(s => when(array_contains(t, lit(s)), 1).otherwise(0))
    .reduce(_ + _)

  /** The [[gopherRules]] conjunction as ONE Column over a text column
    * and a MATERIALIZED token-array column — callers in per-row hot
    * paths bind `t` to a real `withColumn` attribute first (the
    * lambda-CSE Catalyst trap [[ngramsFrom]] documents: an embedded
    * `tokens(text)` expression would re-split the document once per
    * sub-rule, ~13× per row). */
  def gopherVerdictFrom(
      text: Column, t: Column,
      minWords: Long = 50L, maxWords: Long = 100000L,
      minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1, minAlphaWordRatio: Double = 0.8,
      minStopwordHits: Int = 2): Column = {
    val n = size(t).cast("long")
    when(n >= minWords && n <= maxWords
      && gopherMeanWordLen(t) >= minMeanWordLen
      && gopherMeanWordLen(t) <= maxMeanWordLen
      && gopherSymbolRatio(text, t) <= maxSymbolRatio
      && gopherAlphaRatio(t) >= minAlphaWordRatio
      && gopherStopHits(t) >= minStopwordHits, lit("keep"))
      .otherwise(lit("drop"))
  }

  /** Convenience form of [[gopherVerdictFrom]] that embeds the
    * tokenization — fine for one-off filters; hot paths should
    * materialize the token array and call the `From` variant. */
  def gopherVerdict(
      text: Column,
      minWords: Long = 50L, maxWords: Long = 100000L,
      minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1, minAlphaWordRatio: Double = 0.8,
      minStopwordHits: Int = 2): Column =
    gopherVerdictFrom(text, tokens(text), minWords, maxWords,
      minMeanWordLen, maxMeanWordLen, maxSymbolRatio, minAlphaWordRatio,
      minStopwordHits)

  def gopherRules(
      docs: org.apache.spark.sql.DataFrame, id: String, text: String,
      minWords: Long = 50L, maxWords: Long = 100000L,
      minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1, minAlphaWordRatio: Double = 0.8,
      minStopwordHits: Int = 2): org.apache.spark.sql.DataFrame = {
    // token array as a REAL column (see gopherVerdictFrom) so the five
    // rule columns index one split, not five
    val t = col("__gt")
    docs.select(col(id), col(text).as("__gtext"))
      .withColumn("__gt", tokens(col("__gtext")))
      .select(col(id), size(t).cast("long").as("n_words"),
        gopherMeanWordLen(t).as("mean_word_len"),
        gopherSymbolRatio(col("__gtext"), t).as("symbol_ratio"),
        gopherAlphaRatio(t).as("alpha_word_ratio"),
        gopherStopHits(t).cast("int").as("n_stop_hits"))
      .withColumn("verdict",
        when(col("n_words") >= minWords && col("n_words") <= maxWords
          && col("mean_word_len") >= minMeanWordLen
          && col("mean_word_len") <= maxMeanWordLen
          && col("symbol_ratio") <= maxSymbolRatio
          && col("alpha_word_ratio") >= minAlphaWordRatio
          && col("n_stop_hits") >= minStopwordHits, lit("keep"))
          .otherwise(lit("drop")))
  }

  /** A trained, pruned, broadcastable bigram LM — the deployment artifact
    * of [[lmScore]]'s training half. Sorted parallel long arrays with
    * binary-search lookup (16 B/entry; a Scala Map would cost ~10×):
    * bigram keys are the two token hashes mixed to one long
    * ([[LmModel.mix]] — collision-equivalent to hashing the pair, same
    * argument as [[topNgrams]]), context keys are the raw token hash.
    * [[lmTrain]] guards the collected size loudly, so a model that would
    * not broadcast refuses at train time instead of OOMing the driver. */
  final class LmModel private[TextAnalysis] (
      private val bigramKeys: Array[Long],
      private val bigramCounts: Array[Long],
      private val ctxKeys: Array[Long],
      private val ctxCounts: Array[Long],
      val vocabSize: Long) extends Serializable {
    private def lookup(ks: Array[Long], vs: Array[Long], k: Long): Long = {
      val i = java.util.Arrays.binarySearch(ks, k)
      if (i >= 0) vs(i) else 0L
    }
    def bigramCount(h1: Long, h2: Long): Long =
      lookup(bigramKeys, bigramCounts, LmModel.mix(h1, h2))
    def ctxCount(h1: Long): Long = lookup(ctxKeys, ctxCounts, h1)
    def nBigrams: Int = bigramKeys.length
    // persistence taps ([[TextAnalysis.lmSave]]) — the arrays stay private
    private[TextAnalysis] def bigramKeysArr: Array[Long] = bigramKeys
    private[TextAnalysis] def bigramCountsArr: Array[Long] = bigramCounts
    private[TextAnalysis] def ctxKeysArr: Array[Long] = ctxKeys
    private[TextAnalysis] def ctxCountsArr: Array[Long] = ctxCounts

    /** THE per-document scoring loop — the single copy both
      * [[TextAnalysis.lmScoreWith]] and the composed streaming screen
      * call, so the fixed-point arithmetic that the batch/stream
      * bit-equality specs pin cannot fork. None below 2 tokens. */
    def score(toks: Array[String]): Option[(Long, Double)] =
      if (toks.length < 2) None
      else {
        val hs = new Array[Long](toks.length)
        var i = 0
        while (i < toks.length) { hs(i) = xxhash64String(toks(i)); i += 1 }
        var sum = 0L
        i = 0
        while (i < hs.length - 1) {
          val c12 = bigramCount(hs(i), hs(i + 1))
          val c1 = ctxCount(hs(i))
          val p = (c12 + 1).toDouble / (c1 + vocabSize).toDouble
          sum += Math.round(-Math.log(p) * 1000000.0)
          i += 1
        }
        val n = (hs.length - 1).toLong
        Some((n, (sum / 1000000.0) / n))
      }
  }

  object LmModel {
    /** splitmix64-style combine of two 64-bit hashes. */
    def mix(h1: Long, h2: Long): Long = {
      var z = h1 * 0x9E3779B97F4A7C15L + h2
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
  }

  /** Spark's `xxhash64(stringCol)` reproduced row-side, so a closure can
    * hash tokens identically to the columnar training pipeline. */
  private[graft] def xxhash64String(s: String): Long =
    org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString(s),
      org.apache.spark.sql.types.StringType, 42L)

  /** Shared [[lmScore]]/[[lmTrain]] plumbing: the checkpointed
    * (doc, h1, h2) transition frame and the distinct-vocabulary size.
    * (Both callers rebuild their bigram aggregation from the returned
    * transitions — the counts themselves are one groupBy away and the
    * two callers prune them differently.) */
  private def lmCounts(
      docs: org.apache.spark.sql.DataFrame, id: String, text: String)
      : (org.apache.spark.sql.DataFrame, Long) = {
    val th = Dedup.fanOut(docs)
      // token-hash array as a REAL column: the positional lambda below
      // must index it, not re-derive split+hash per element (lambda-CSE
      // trap — see ngramsFrom); checkpointing also leaves explode with a
      // plain attribute, sidestepping InferFiltersFromGenerate re-eval
      .select(col(id).as("__d"),
        transform(tokens(col(text)), w => xxhash64(w)).as("__th"))
      .localCheckpoint()
    val trans = th
      .select(col("__d"),
        explode(when(size(col("__th")) >= 2,
          transform(sequence(lit(1), size(col("__th")) - 1),
            i => struct(element_at(col("__th"), i).as("h1"),
              element_at(col("__th"), i + 1).as("h2"))))
          .otherwise(array().cast("array<struct<h1:bigint,h2:bigint>>")))
          .as("__b"))
      .select(col("__d"), col("__b.h1").as("h1"), col("__b.h2").as("h2"))
      .localCheckpoint()
    val v = th.select(explode(col("__th")).as("__h"))
      .agg(count_distinct(col("__h"))).first().getLong(0)
    (trans, v)
  }

  /** Train a broadcastable [[LmModel]] (the CCNet deployment shape: train
    * once on a reference corpus, score every incoming batch/stream
    * against it map-side). `minCount` prunes rare bigrams — the lever
    * that keeps the collected model bounded; `maxEntries` refuses a
    * model too big to broadcast, loudly, at train time. The context
    * table is never pruned (it is vocabulary-sized by construction and
    * the smoothing denominator needs it). */
  def lmTrain(
      docs: org.apache.spark.sql.DataFrame, id: String, text: String,
      minCount: Long = 2L, maxEntries: Long = 1L << 22): LmModel = {
    require(minCount >= 1, s"bad minCount: $minCount")
    val (trans, v) = lmCounts(docs, id, text)
    val big = trans.groupBy("h1", "h2").agg(count(lit(1)).as("__c12"))
      .localCheckpoint()
    val pruned = big.filter(col("__c12") >= minCount)
    val ctx = big.groupBy("h1").agg(sum("__c12").as("__c1"))
    val sizes = pruned.count() + v
    require(sizes <= maxEntries,
      s"LM would collect $sizes entries (> $maxEntries): raise minCount " +
        "to prune harder, or raise maxEntries consciously — a model this " +
        "size may not broadcast")
    val bigArr = pruned
      .select(col("h1"), col("h2"), col("__c12"))
      .collect()
      .map(r => (LmModel.mix(r.getLong(0), r.getLong(1)), r.getLong(2)))
      .sortBy(_._1)
    val ctxArr = ctx.collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(_._1)
    new LmModel(bigArr.map(_._1), bigArr.map(_._2),
      ctxArr.map(_._1), ctxArr.map(_._2), v)
  }

  // ─────────────────── trained-model persistence ───────────────────
  // The train-once / score-every-batch lifecycle only works if "once"
  // survives the session: save/load for every driver-side model artifact
  // the engine trains (LM bigram tables, NB weights, BPE merge lists),
  // on the same IndexIO layout as the ANN indexes. Longs travel through
  // dedicated long tables (64-bit hash keys must not transit doubles);
  // doubles through binary-exact parquet. A loaded model scores
  // BIT-IDENTICALLY to the freshly trained one (ModelPersistenceSpec).

  /** Persist a trained [[LmModel]] under `dir`. */
  def lmSave(model: LmModel, spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit = {
    IndexIO.saveLongPairs(spark, s"$dir/bigrams",
      model.bigramKeysArr, model.bigramCountsArr)
    IndexIO.saveLongPairs(spark, s"$dir/ctx",
      model.ctxKeysArr, model.ctxCountsArr)
    IndexIO.writeMeta(spark, dir, "lm_bigram",
      Map("vocab_size" -> model.vocabSize,
        "n_bigrams" -> model.bigramKeysArr.length.toLong,
        "n_ctx" -> model.ctxKeysArr.length.toLong))
  }

  /** Reload an [[lmSave]]d model — same binary-searchable sorted arrays,
    * bit-identical scores. */
  def lmLoad(spark: org.apache.spark.sql.SparkSession,
      dir: String): LmModel = {
    val meta = IndexIO.readMeta(spark, dir, "lm_bigram")
    val (bk, bv) = IndexIO.loadLongPairs(spark, s"$dir/bigrams")
    val (ck, cv) = IndexIO.loadLongPairs(spark, s"$dir/ctx")
    require(bk.length == meta("n_bigrams") && ck.length == meta("n_ctx"),
      s"model tables at $dir disagree with the sidecar: " +
        s"${bk.length}/${ck.length} vs ${meta("n_bigrams")}/${meta("n_ctx")}")
    new LmModel(bk, bv, ck, cv, meta("vocab_size"))
  }

  /** Persist a trained [[NbQualityModel]] under `dir` (weights + bias as
    * one binary-exact double matrix; bucket count in the sidecar). */
  def nbSave(model: NbQualityModel,
      spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    IndexIO.saveMatrix(spark, s"$dir/weights",
      Array(model.weights, Array(model.bias)))
    IndexIO.writeMeta(spark, dir, "nb_quality",
      Map("buckets" -> model.numBuckets.toLong))
  }

  /** Reload an [[nbSave]]d model. */
  def nbLoad(spark: org.apache.spark.sql.SparkSession,
      dir: String): NbQualityModel = {
    val meta = IndexIO.readMeta(spark, dir, "nb_quality")
    val m = IndexIO.loadMatrix(spark, s"$dir/weights")
    require(m.length == 2 && m(1).length == 1,
      s"weights table at $dir/weights is not (weights, [bias])")
    NbQualityModel(meta("buckets").toInt, m(0), m(1)(0))
  }

  /** Persist a derived/trained token vocabulary (wordpiece or any other
    * string list whose ORDER is the model — wordpiece longest-match ties
    * break by list position) under `dir`. */
  def vocabSave(vocab: Seq[String],
      spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    import spark.implicits._
    vocab.zipWithIndex.map { case (w, i) => (i, w) }
      .toDF("rank", "piece")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/vocab")
    IndexIO.writeMeta(spark, dir, "token_vocab",
      Map("n_pieces" -> vocab.length.toLong))
  }

  /** Reload a [[vocabSave]]d vocabulary in its original order. */
  def vocabLoad(spark: org.apache.spark.sql.SparkSession,
      dir: String): Seq[String] = {
    val meta = IndexIO.readMeta(spark, dir, "token_vocab")
    val rows = spark.read.parquet(s"$dir/vocab").collect()
      .map(r => (r.getInt(0), r.getString(1)))
      .sortBy(_._1).map(_._2).toSeq
    require(rows.length == meta("n_pieces"),
      s"vocab at $dir has ${rows.length} pieces; " +
        s"sidecar says ${meta("n_pieces")}")
    rows
  }

  /** Persist a trained BPE merge list under `dir` (rank-ordered rows). */
  def bpeSave(merges: Seq[(String, String, Long)],
      spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    import spark.implicits._
    merges.zipWithIndex
      .map { case ((l, r, c), i) => (i, l, r, c) }
      .toDF("rank", "left", "right", "pair_count")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/merges")
    IndexIO.writeMeta(spark, dir, "bpe_merges",
      Map("n_merges" -> merges.length.toLong))
  }

  /** Reload a [[bpeSave]]d merge list in training rank order —
    * [[bpeTokens]] under the loaded list segments identically. */
  def bpeLoad(spark: org.apache.spark.sql.SparkSession,
      dir: String): Seq[(String, String, Long)] = {
    val meta = IndexIO.readMeta(spark, dir, "bpe_merges")
    val rows = spark.read.parquet(s"$dir/merges").collect()
      .map(r => (r.getInt(0), (r.getString(1), r.getString(2), r.getLong(3))))
      .sortBy(_._1).map(_._2).toSeq
    require(rows.length == meta("n_merges"),
      s"merge table at $dir has ${rows.length} rows; " +
        s"sidecar says ${meta("n_merges")}")
    rows
  }

  /** Score documents against a pretrained [[LmModel]] — a stateless
    * narrow map (typed mapPartitions; the model rides the closure), so it
    * runs UNCHANGED on a streaming frame: this is the scorer
    * [[graft.streaming.Streams.lmScoreStream]] wraps. Tokenization and
    * hashing reproduce the columnar training side exactly
    * ([[xxhash64String]]), and the fixed-point arithmetic is the same
    * tree as [[lmScore]] — on the training corpus itself the two paths
    * agree bit-for-bit (pinned in NorthStarSpec). Unseen contexts take
    * the pure add-one floor P = 1/(0+V), which the inner-join batch path
    * never produces only because scoring corpus = training corpus there.
    *
    * @return id column (long), n_trans, xent */
  def lmScoreWith(
      model: LmModel, docs: org.apache.spark.sql.DataFrame,
      id: String, text: String): org.apache.spark.sql.DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(id).cast("long"), col(text)).as[(Long, String)]
      .mapPartitions { it =>
        it.flatMap { case (d, t) =>
          val toks =
            if (t == null) Array.empty[String] else t.split(" ", -1)
          model.score(toks).map { case (n, x) => (d, n, x) }.iterator
        }
      }
      .toDF(id, "n_trans", "xent")
  }

  /** One-pass corpus report — the "data card" numbers every training-data
    * drop ships with: document/token mass, exact-duplicate rate (distinct
    * content fingerprints vs rows), quality and language mix, and the
    * KMV approximate distinct-content cardinality riding the SAME
    * aggregation ([[Sketches]] — at 100 TB the exact distinct aggregate
    * shuffles every distinct fingerprint once, while the sketch column
    * costs ≤k longs per partial; the report carries both so the sketch
    * self-calibrates against the exact count at certification scale and
    * a caller can drop `n_distinct_content` when the corpus outgrows
    * it). ONE hash-aggregation over map-side projections (the
    * fingerprint count is approx_count_distinct-free: md5 collisions are
    * negligible and the count is exact via a distinct aggregate — Spark
    * plans it as a two-level agg, no extra pass). All arithmetic
    * SQL-portable → hash-certified.
    *
    * `sketchHash` picks the KMV 64-bit hash: [[xxhash64]] (default,
    * codegen'd) or [[Dedup.md5Hash64]] (what q_t24's oracle replays).
    *
    * @return one row: n_docs, n_tokens, n_distinct_content,
    *         est_distinct_content (KMV), mean_quality (stable-sum),
    *         pct_lang (share of `lang`) */
  def corpusReport(
      docs: org.apache.spark.sql.DataFrame, id: String, text: String,
      lang: String = "en", sketchK: Int = 64,
      sketchHash: Column => Column = xxhash64(_))
      : org.apache.spark.sql.DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs
      .select(col(id),
        tokenCount(col(text)).as("__n"),
        fingerprintContent(col(text)).as("__fp"),
        qualityScore(col(text)).as("__q"),
        langId(col(text)).as("__l"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("__n")).as("n_tokens"),
        countDistinct(col("__fp")).as("n_distinct_content"),
        graft.functions.GraftFunctions
          .kmvSketch(sketchHash(col("__fp")), sketchK).as("__kmv"),
        (sum(round(col("__q") * lit(100.0)).cast("long"))
          / lit(100.0) / count(lit(1))).as("mean_quality"),
        (sum(when(col("__l") === lang, 1L).otherwise(0L)).cast("double")
          / count(lit(1))).as("pct_lang"))
      .select(col("n_docs"), col("n_tokens"), col("n_distinct_content"),
        Sketches.kmvEstimate(col("__kmv"), sketchK)
          .as("est_distinct_content"),
        col("mean_quality"), col("pct_lang"))
  }

  /** Per-source corpus card — the grouped companion of [[corpusReport]]
    * for the web-crawl deployment: each source (crawl, dump, feed) gets
    * its document/token mass plus KMV approximate distinct hosts and
    * registered domains ([[urlHost]] / [[registeredDomain]] of `url`) —
    * the cardinalities a per-domain cap ([[TextAnalysis.capPerKey]]
    * family) and a crawl-frontier report need, WITHOUT a distinct
    * shuffle: one groupBy pass, duplicates collapse map-side inside the
    * sketch partials, ≤k longs per (source, column) cross the wire. At
    * 100 TB an exact `count(DISTINCT host)` per source re-shuffles every
    * host string; this is the [[Sketches.approxDistinctByGroup]] shape
    * widened to two sketch columns sharing the scan.
    *
    * @return one row per source: source, n_docs, n_tokens,
    *         est_distinct_hosts, est_distinct_domains */
  def sourceCard(
      docs: org.apache.spark.sql.DataFrame, source: String, text: String,
      url: Column, sketchK: Int = 64,
      sketchHash: Column => Column = xxhash64(_))
      : org.apache.spark.sql.DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val host = urlHost(url)
    docs
      .select(col(source), tokenCount(col(text)).as("__n"),
        host.as("__h"), registeredDomain(host).as("__d"))
      .groupBy(col(source))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("__n")).as("n_tokens"),
        graft.functions.GraftFunctions
          .kmvSketch(sketchHash(col("__h")), sketchK).as("__kh"),
        graft.functions.GraftFunctions
          .kmvSketch(sketchHash(col("__d")), sketchK).as("__kd"))
      .select(col(source), col("n_docs"), col("n_tokens"),
        Sketches.kmvEstimate(col("__kh"), sketchK)
          .as("est_distinct_hosts"),
        Sketches.kmvEstimate(col("__kd"), sketchK)
          .as("est_distinct_domains"))
  }

  /** Deterministic corpus shuffle — the data-order step in front of
    * training: global order = ascending md5(seed‖id), reproducible across
    * runs, engines, and partitionings, no RNG (the same md5-keying family
    * as [[deterministicSplit]]/[[stratifiedKeep]]). Shards are hex-prefix
    * buckets of the key (16^`shardHexChars` shards, uniform by md5), so a
    * writer lays out one file per shard and a training loader streams
    * shards in name order, rows in `pos` order — the full epoch order is
    * a pure function of (seed, ids). Changing the seed reshuffles; the
    * intra-shard window is per-shard parallel (no global sort, no
    * single-partition window).
    *
    * @return id, shuffle_key, shard, pos (1-based within shard) */
  def deterministicShuffle(
      docs: org.apache.spark.sql.DataFrame, id: String, seed: String,
      shardHexChars: Int = 2): org.apache.spark.sql.DataFrame = {
    require(shardHexChars >= 1 && shardHexChars <= 4,
      s"shardHexChars in [1, 4]: $shardHexChars")
    val key = md5(concat(lit(seed), col(id).cast("string")).cast("binary"))
    docs
      .select(col(id), key.as("shuffle_key"))
      .withColumn("shard", substring(col("shuffle_key"), 1, shardHexChars))
      .withColumn("pos", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("shard")
          .orderBy(col("shuffle_key"), col(id))).cast("long"))
  }

  /** Character symbols of a word for BPE: one symbol per character plus
    * the end-of-word marker (Sennrich et al., ACL'16). */
  private[graft] def bpeSymbols(w: String): Array[String] = {
    val out = new Array[String](w.length + 1)
    var i = 0
    while (i < w.length) { out(i) = w.charAt(i).toString; i += 1 }
    out(w.length) = "</w>"
    out
  }

  /** Apply a merge list in rank order: each (l, r) rewrites every
    * adjacent l,r symbol pair to the single symbol l+r, left-to-right
    * (so overlapping candidates resolve leftmost-first, the reference
    * BPE behavior). */
  private[graft] def bpeApplyMerges(
      syms: Array[String], merges: Seq[(String, String)]): Array[String] = {
    var cur = syms
    merges.foreach { case (l, r) =>
      if (cur.length >= 2) {
        val out = Array.newBuilder[String]
        var i = 0
        while (i < cur.length) {
          if (i + 1 < cur.length && cur(i) == l && cur(i + 1) == r) {
            out += (l + r); i += 2
          } else { out += cur(i); i += 1 }
        }
        cur = out.result()
      }
    }
    cur
  }

  /** Train a byte-pair-encoding merge list ON the corpus: the standard
    * subword-vocabulary derivation (Sennrich et al., ACL'16) — start from
    * characters, repeatedly merge the most frequent adjacent symbol pair.
    * Fully deterministic: ties break lexicographically on (left, right),
    * so reruns and partitionings produce the identical merge list.
    *
    * Scale shape: training runs on the distinct-WORD frequency table
    * (Heaps'-law sublinear in the corpus — the one corpus-sized pass is
    * the initial word count), materialized once with `localCheckpoint`.
    * Each of the `nMerges` iterations is one distributed pass over that
    * word table — segment with the merges so far (a narrow map), explode
    * adjacent pairs, hash-aggregate weighted counts, and bring exactly
    * ONE row (the argmax) to the driver. The driver accumulates only the
    * merge list itself — a bounded model artifact like the k-means
    * quantizer sample, never corpus data. Segmentation is imperative
    * per-word logic (a data-dependent rewrite loop no Catalyst expression
    * expresses), so it runs as a deterministic Scala UDF over the
    * words-sized table — not the corpus.
    *
    * @param minPairCount stop early once the best pair drops below this
    * @return merges in rank order: (left, right, weighted pair count) */
  def deriveBpeMerges(
      docs: org.apache.spark.sql.DataFrame, id: String, text: String,
      nMerges: Int, minPairCount: Long = 2L): Seq[(String, String, Long)] = {
    require(nMerges >= 1 && nMerges <= 65536, s"bad nMerges: $nMerges")
    require(minPairCount >= 1, s"bad minPairCount: $minPairCount")
    val words = docs
      .select(explode(tokens(col(text))).as("w"))
      .where(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("f"))
      .localCheckpoint()
    // tiny-loop gate ([[TinyLoop]]): every merge round is one pass over
    // this pinned word table, so its count — one cheap cached scan
    // against nMerges full passes — covers the whole loop. The
    // per-round pass is integer arithmetic under a total order (ties
    // break on (l, r)), so the compacted execution is bit-equal.
    val tinyWords = TinyLoop.enabled(docs.sparkSession) &&
      TinyLoop.isTiny(docs.sparkSession, words.count())
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var done = false
    while (!done && merges.size < nMerges) {
      val sofar = merges.map(m => (m._1, m._2)).toSeq
      val pairsOf = udf { (w: String) =>
        val s = bpeApplyMerges(bpeSymbols(w), sofar)
        (0 until s.length - 1).map(i => (s(i), s(i + 1)))
      }
      val best = TinyLoop.compactExec(words
        .select(explode(pairsOf(col("w"))).as("p"), col("f"))
        .groupBy(col("p._1").as("l"), col("p._2").as("r"))
        .agg(sum(col("f")).as("c"))
        .orderBy(col("c").desc, col("l"), col("r"))
        .limit(1), tinyWords).collect()
      if (best.isEmpty || best(0).getLong(2) < minPairCount) done = true
      else merges += ((best(0).getString(0), best(0).getString(1),
        best(0).getLong(2)))
    }
    merges.toSeq
  }

  /** [[deriveBpeMerges]] at REAL vocabulary scale: one distributed
    * word-frequency pass, then the merge loop runs driver-side over the
    * minCount-pruned word table — the shape every production BPE trainer
    * uses (Sennrich's reference implementation, SentencePiece, HF
    * tokenizers all train on collected word counts), because 32k merges
    * as 32k sequential cluster jobs is days of scheduler latency no
    * cluster size can buy back, while the word table itself is Heaps'-law
    * sublinear in the corpus and minCount-prunable to a bounded model
    * artifact (the [[lmTrain]] pattern: collect is guarded and loud).
    *
    * EXACTLY the same merge list as [[deriveBpeMerges]] (BpeSpec
    * differential-pins this): per-position adjacent-pair counts weighted
    * by word frequency, argmax by (count desc, left, right) — maintained
    * incrementally. Each merge touches only the words that contain its
    * pair (an inverted index), and the argmax is O(log P) via an ordered
    * set, so 512 merges take milliseconds where the per-merge-job loop
    * took minutes.
    *
    * @param minWordCount prune the collected word table (raise on big
    *        corpora — rare words almost never decide a merge, and the
    *        guard message says exactly this)
    * @param maxWords loud bound on the driver-side table (~100 B/word)
    * @return merges in rank order: (left, right, weighted pair count) */
  def trainBpeMerges(
      docs: org.apache.spark.sql.DataFrame, id: String, text: String,
      nMerges: Int, minPairCount: Long = 2L, minWordCount: Long = 1L,
      maxWords: Long = 1L << 21): Seq[(String, String, Long)] = {
    require(nMerges >= 1 && nMerges <= 65536, s"bad nMerges: $nMerges")
    require(minPairCount >= 1, s"bad minPairCount: $minPairCount")
    require(minWordCount >= 1, s"bad minWordCount: $minWordCount")
    val wordsDf = docs
      .select(explode(tokens(col(text))).as("w"))
      .where(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("f"))
      .where(col("f") >= minWordCount)
    val nWords = wordsDf.count()
    require(nWords <= maxWords,
      s"trainBpeMerges: $nWords distinct words exceeds maxWords=$maxWords; " +
        "raise minWordCount (rare words almost never decide a merge) or " +
        "maxWords consciously — this table is collected to the driver.")
    val collected = wordsDf.collect()
    // word state: current symbol arrays + frequencies
    val syms = new Array[Array[String]](collected.length)
    val freq = new Array[Long](collected.length)
    var wi = 0
    while (wi < collected.length) {
      syms(wi) = bpeSymbols(collected(wi).getString(0))
      freq(wi) = collected(wi).getLong(1)
      wi += 1
    }
    type Pair = (String, String)
    val counts = scala.collection.mutable.HashMap.empty[Pair, Long]
    val index =
      scala.collection.mutable.HashMap.empty[Pair, scala.collection.mutable.Set[Int]]
    // ordered view for O(log P) argmax; entries are (count, l, r) kept in
    // sync with `counts` by remove-old/insert-new on every delta
    val ordering = new Ordering[(Long, String, String)] {
      def compare(a: (Long, String, String), b: (Long, String, String)): Int = {
        val c = java.lang.Long.compare(b._1, a._1) // count desc
        if (c != 0) c
        else {
          val l = a._2.compareTo(b._2)
          if (l != 0) l else a._3.compareTo(b._3)
        }
      }
    }
    val sorted = scala.collection.mutable.TreeSet.empty(ordering)
    def addWord(w: Int, sign: Long): Unit = {
      val s = syms(w); val f = freq(w) * sign
      var i = 0
      while (i + 1 < s.length) {
        val p = (s(i), s(i + 1))
        val old = counts.getOrElse(p, 0L)
        if (old != 0L) sorted.remove((old, p._1, p._2))
        val nw = old + f
        if (nw != 0L) { counts(p) = nw; sorted.add((nw, p._1, p._2)) }
        else counts.remove(p)
        if (sign > 0) index.getOrElseUpdate(
          p, scala.collection.mutable.Set.empty[Int]) += w
        i += 1
      }
      // sign < 0 leaves stale index membership; the caller prunes the
      // word's old pairs right after (bounded: that word's pairs only)
    }
    wi = 0
    while (wi < syms.length) { addWord(wi, 1L); wi += 1 }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var done = false
    while (!done && merges.size < nMerges) {
      if (sorted.isEmpty) done = true
      else {
        val (c, l, r) = sorted.head
        if (c < minPairCount) done = true
        else {
          merges += ((l, r, c))
          val affected = index.getOrElse((l, r), Nil).toArray
          affected.foreach { w =>
            val before = syms(w)
            addWord(w, -1L)
            // drop stale index entries for this word's old pairs (cheap:
            // only this word's pairs, re-added below if still present)
            var i = 0
            while (i + 1 < before.length) {
              index.get((before(i), before(i + 1))).foreach(_ -= w)
              i += 1
            }
            syms(w) = bpeApplyMerges(before, Seq((l, r)))
            addWord(w, 1L)
          }
        }
      }
    }
    merges.toSeq
  }

  /** BPE segmentation of a text column under a trained merge list: each
    * whitespace token split to its merged subword symbols (end-of-word
    * marker included). Deterministic UDF — the merge list rides the
    * closure as a broadcast-sized model artifact. */
  def bpeTokens(text: Column, merges: Seq[(String, String)]): Column = {
    val seg = udf { (t: String) =>
      if (t == null) Array.empty[String]
      else t.split(" ").filter(_.nonEmpty)
        .flatMap(w => bpeApplyMerges(bpeSymbols(w), merges))
    }
    seg(text)
  }

  /** Inverse of [[bpeTokens]]: concatenate the subword symbols and turn
    * each end-of-word marker into a word boundary. Exact inverse under
    * ANY merge list (merges only concatenate adjacent symbols — the
    * character stream and the marker positions survive every merge), up
    * to whitespace normalization:
    * `bpeDetokenize(bpeTokens(t, m)) = t.split(" ").filter(_.nonEmpty)
    * .mkString(" ")` — PROVIDED the text does not itself contain the
    * literal `</w>` sequence (its characters would reassemble into a
    * string indistinguishable from the marker; this ambiguity is
    * inherent to every marker-based subword scheme — pre-escape such
    * corpora before tokenizing). Round-trip identity pinned in
    * BpeEndToEndSpec. Pure Column arithmetic — codegen'd, no UDF on the
    * decode side. */
  def bpeDetokenize(tokens: Column): Column =
    trim(regexp_replace(concat_ws("", tokens), "</w>", " "))

  /** Per-key document cap: keep at most `cap` documents per key (the
    * per-domain cap every crawl-curation recipe applies so no single
    * domain dominates the training mix), chosen DETERMINISTICALLY — the
    * `cap` smallest values of `md5(seed‖id)` per key, ties broken by id.
    * No RNG: reruns, engines, and partitionings all pick the same
    * survivors, and the choice is uniform over each key's documents.
    *
    * Scale shape: a single window `row_number() OVER (PARTITION BY key)`
    * would sort one partition per key — a billion-document domain becomes
    * one billion-row sort task. Instead the rank runs in two exact
    * levels, the same shape as [[Skew.saltedAgg]]: level 1 ranks within
    * (key, salt-of-id) partitions — each holds ~n_key/`salts` rows — and
    * keeps `cap` per salt; level 2 ranks the ≤ cap·`salts` survivors per
    * key. The global top-`cap` of every key is a subset of its per-salt
    * top-`cap`s, so the result is EXACTLY the naive single-window answer
    * (the certified oracle computes that naive form), with no partition
    * ever holding more than max(n_key/salts, cap·salts) rows.
    *
    * @return id, key, cap_rank (1..cap in hash order) */
  def capPerKey(
      docs: org.apache.spark.sql.DataFrame, id: String, key: String,
      cap: Int, seed: String = "cap",
      salts: Int = 64): org.apache.spark.sql.DataFrame = {
    require(cap >= 1, s"cap must be >= 1: $cap")
    require(salts >= 1, s"salts must be >= 1: $salts")
    // internal/output names injected below; an id/key column with one of
    // these names would be clobbered or make the final select ambiguous
    Seq("cap_key", "cap_salt", "r1", "cap_rank").foreach { reserved =>
      require(id != reserved && key != reserved,
        s"capPerKey reserves column name '$reserved'; rename it first")
    }
    import org.apache.spark.sql.expressions.Window
    val hkey = md5(concat(lit(seed), col(id).cast("string")).cast("binary"))
    val base = docs.select(
      col(id), col(key), hkey.as("cap_key"),
      pmod(xxhash64(col(id)), lit(salts)).as("cap_salt"))
    val pruned = base
      .withColumn("r1", row_number().over(
        Window.partitionBy(col(key), col("cap_salt"))
          .orderBy(col("cap_key"), col(id))))
      .where(col("r1") <= cap)
    pruned
      .withColumn("cap_rank", row_number().over(
        Window.partitionBy(col(key)).orderBy(col("cap_key"), col(id))))
      .where(col("cap_rank") <= cap)
      .select(col(id), col(key), col("cap_rank").cast("long"))
  }

  /** Token-length histogram with padding waste: bucket documents by
    * `floor(n_tokens / width)` and report, per bucket, the document count,
    * token mass, longest document, and the fraction of a
    * pad-to-bucket-max batch that would be padding
    * (`1 − sum/(count·max)`). This is the feasibility report behind
    * length-bucketed batching — pad-to-longest within a bucket instead of
    * pad-to-longest in the corpus — and everything except the final
    * division is exact integer arithmetic, so the result is
    * hash-certifiable.
    *
    * Scale shape: one map-side projection and one hash aggregation whose
    * output is buckets-sized. Nothing else.
    *
    * @return bucket, n_docs, sum_tokens, max_tokens, padding_frac */
  def lengthBuckets(
      docs: org.apache.spark.sql.DataFrame, id: String, text: String,
      width: Int = 128): org.apache.spark.sql.DataFrame = {
    require(width >= 1, s"width must be >= 1: $width")
    docs
      .select(floor(tokenCount(col(text)) / lit(width.toDouble))
        .cast("long").as("bucket"),
        tokenCount(col(text)).as("n_tokens"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("sum_tokens"),
        max(col("n_tokens")).as("max_tokens"))
      .select(col("bucket"), col("n_docs"), col("sum_tokens"),
        col("max_tokens"),
        (lit(1.0) - col("sum_tokens").cast("double") /
          (col("n_docs") * col("max_tokens")).cast("double"))
          .as("padding_frac"))
  }

  /** PII redaction patterns — deliberately simple character-class regexes
    * that behave identically under Java regex (Spark) and RE2 (DuckDB's
    * regexp_replace with the 'g' flag), so redacted output is
    * oracle-certifiable. Applied in declaration order. */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "[a-z0-9]+@[a-z]+\\.[a-z]+" -> "<EMAIL>",
    "[0-9]{3}-[0-9]{2}-[0-9]{4}" -> "<SSN>")

  /** Redacted text: every PII pattern replaced by its tag. Map-side
    * codegen'd regexp_replace chain. */
  def redact(text: Column): Column =
    PiiPatterns.foldLeft(text) { case (c, (pat, tag)) =>
      regexp_replace(c, pat, tag)
    }

  /** Number of PII matches the redaction removes (audit metric). Counted
    * SEQUENTIALLY — each pattern against the text as the previous
    * replacements left it — so the count equals what [[redact]] actually
    * replaced even when patterns overlap (an SSN whose tail also looks
    * like an email is one removal, not two). */
  def piiCount(text: Column): Column =
    PiiPatterns.foldLeft((text, lit(0))) { case ((t, n), (pat, tag)) =>
      (regexp_replace(t, pat, tag), n + regexp_count(t, lit(pat)))
    }._2.cast("long")
}
