package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact, n-gram
  * Jaccard, MinHash+LSH, SimHash.
  *
  * Scale design (100 TB):
  *  - exact dedup is one hash-aggregate shuffle on a digest, never on the
  *    raw text (shuffle bytes ∝ 16B digest, not document size);
  *  - MinHash+LSH is the scale path for near-dup: per-doc signatures are a
  *    NARROW map (the row-level MinHashRow expression — each document's
  *    shingle set sits whole on its row, so nothing shuffles until the
  *    band-bucket candidate join), banding turns the quadratic pair search
  *    into equi-join buckets, and only bucket-collision candidates are
  *    verified exactly. No driver-side collection anywhere.
  *  - the all-pairs n-gram join is the verification/oracle path — use it on
  *    samples or candidate sets, not whole corpora.
  */
object Dedup {

  /** Spread rows across all cores before per-row-heavy shingle work: a
    * compact source (one parquet file → one input split) would otherwise
    * serialize the whole corpus through a single task. The shuffle moves
    * raw text once — negligible next to the shingle/signature compute it
    * parallelizes; with a well-split source it is harmless (one extra pass).
    * Shared by every explode-heavy operator (ngram/minhash/simhash,
    * repetitionScreen, contamination).
    */
  private[operators] def fanOut(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Distinct word-trigram shingle set (map-side). Uses the native
    * [[graft.functions.WordTrigrams]] expression — semantically identical
    * to the composable HOF form (array_distinct over a sliding concat_ws
    * window) but one native call per row; the operators below register it
    * on their session before use. */
  def wordTrigrams(text: Column): Column =
    graft.functions.GraftFunctions.wordTrigrams(text)

  /** Exact dedup: group by content digest, count members, keep min id as the
    * canonical representative. */
  def exactGroups(docs: DataFrame, id: String, text: String): DataFrame =
    docs
      .select(md5(lower(col(text)).cast("binary")).as("h"), col(id).as("doc_id"))
      .groupBy("h")
      .agg(count(lit(1)).as("cnt"), min(col("doc_id")).as("keeper"))

  /** All-pairs n-gram Jaccard: explode distinct shingles, self-join on the
    * shingle, count shared, Jaccard = |∩| / (|A|+|B|-|∩|). Quadratic in
    * colliding docs — verification-scale only (the oracle path).
    * `maxRows` makes that explicit at the API: a corpus-scale pipeline must
    * consciously raise it (use [[minHashLshPairs]] instead — same certified
    * output, linear candidate generation). The guard probes with
    * `limit(maxRows+1).count()` so the refusal itself costs O(maxRows), not
    * a full corpus scan — note this makes an otherwise-lazy builder run one
    * small eager job at call time. */
  def ngramJaccardPairs(
      docs: DataFrame, id: String, text: String,
      threshold: Double, maxRows: Long = 1000000L): DataFrame = {
    require(Guard.atMost(docs, maxRows),
      s"ngramJaccardPairs is all-pairs (quadratic in shingle-colliding " +
        s"docs): input exceeds maxRows=$maxRows. Use minHashLshPairs at " +
        "corpus scale, or raise maxRows explicitly.")
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val tg = fanOut(docs).select(col(id).as("doc_id"),
      explode(wordTrigrams(col(text))).as("tg"))
    val sz = tg.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val shared = tg.as("a")
      .join(tg.as("b"),
        col("a.tg") === col("b.tg") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared"))
    shared
      .join(sz.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sz.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"), col("shared"),
        (col("shared").cast("double")
          / (col("sa.n") + col("sb.n") - col("shared"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Span-level duplication profile (the signal behind exact-substring
    * training-data dedup, Lee et al. ACL'22 "Deduplicating Training Data
    * Makes Language Models Better"): a span (distinct word trigram here) is
    * DUPLICATED when it occurs in at least `minDocs` distinct documents;
    * each document reports how much of it is made of duplicated spans.
    * Downstream curation drops high-`dup_frac` docs or (as in the paper)
    * cuts the spans themselves.
    *
    * Scale shape — linear, no pairwise anything: explode per-doc distinct
    * spans (map-side), ONE hash aggregation over spans to count holding
    * docs (per-doc-distinct makes count(*) = distinct-doc count — no
    * count-distinct state), a semi-join-shaped left join back on the span
    * hash, and a final per-doc aggregation. Every exchange carries
    * (hash, id) pairs, never text. Contrast with [[ngramJaccardPairs]]:
    * that compares documents (quadratic, guarded); this profiles spans
    * (linear) — the right tool when the question is "how much boilerplate
    * does each document carry", not "which documents pair up".
    *
    * @return doc_id, n_spans, n_dup_spans, dup_frac */
  def duplicatedSpans(
      docs: DataFrame, id: String, text: String,
      minDocs: Int = 2): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2: $minDocs")
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val spans = fanOut(docs).select(col(id).as("doc_id"),
      // 64-bit span hashes: exchanges carry 16 B/row instead of raw text
      explode(transform(wordTrigrams(col(text)), t => xxhash64(t))).as("sp"))
    // per-doc distinct by construction → count(*) counts holding docs
    val dup = spans.groupBy("sp").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= minDocs)
    spans
      .join(dup, Seq("sp"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        count(col("nd")).as("n_dup_spans"))
      .select(col("doc_id"), col("n_spans"), col("n_dup_spans"),
        (col("n_dup_spans").cast("double") / col("n_spans"))
          .as("dup_frac"))
  }

  /** Span CUT — the second half of the Lee et al. ACL'22 recipe:
    * [[duplicatedSpans]] PROFILES how duplicated each document is; this
    * operator REWRITES the text, removing every token covered by a span
    * (word trigram) that occurs in at least `minDocs` distinct documents.
    * Boilerplate headers/footers vanish from every holding document while
    * the unique prose stays — document-level drop (the only verdict the
    * curation pipeline had) throws away the prose with the boilerplate.
    *
    * Semantics: token position j is cut iff ANY trigram starting at
    * j-2, j-1, or j is corpus-duplicated. Documents under 3 tokens have no
    * trigram spans and pass through untouched. Tokens are whitespace
    * pieces (split/concat_ws round-trips the text exactly, empty pieces
    * included), so `clean_text` equals the input wherever nothing was cut.
    *
    * Scale shape — linear, same skeleton as [[duplicatedSpans]]: one
    * hash-aggregation counts holding docs per span hash (8–16 B rows), the
    * positional explode joins that duplicated set on the span hash (24 B
    * rows — hashes and ints, never text), covered positions collect per
    * doc (bounded by doc length), and ONE corpus-text exchange meets the
    * cut lists for the rewrite — inherent, since the output is the
    * rewritten corpus itself. The rewrite is a pure Column program:
    * `array_except(sequence, cuts)` keeps surviving positions in order in
    * O(n + |cuts|) per document (hash-set membership, not a per-token
    * scan).
    *
    * @return doc_id, clean_text, n_cut_tokens */
  def cutDuplicatedSpans(
      docs: DataFrame, id: String, text: String,
      minDocs: Int = 2): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2: $minDocs")
    val prepped = fanOut(docs)
      .select(col(id).as("doc_id"), col(text).as("__text"))
    // positional trigram hashes; index p in the array ↔ 1-based start p+1.
    // Each token hashes once, each position hashes 3 longs — no trigram
    // string is ever built (collision-equivalent to hashing the text;
    // the operator only ever compares spans by hash).
    //
    // Two plan rules this shape encodes (each measured ~10-20× here):
    //  1. The token-hash array is materialized as a REAL column —
    //     element_at inside a higher-order-function lambda re-evaluates an
    //     un-aliased subtree PER ELEMENT (no CSE across lambda
    //     boundaries), so indexing must hit a computed array.
    //  2. The trigram expression feeds each Generate DIRECTLY rather than
    //     through an intermediate column: exploding a materialized
    //     attribute lets InferFiltersFromGenerate add a `size(c) > 0`
    //     filter that pushdown then inlines BELOW the defining Project —
    //     re-evaluating the whole trigram transform per row, interpreted,
    //     twice. A non-trivial generator input skips the inference.
    val th = col("__th")
    val tri = when(size(th) >= 3,
      transform(sequence(lit(1), size(th) - 2),
        i => xxhash64(element_at(th, i),
          element_at(th, i + 1), element_at(th, i + 2))))
      .otherwise(array().cast("array<bigint>"))
    val withTh = prepped.withColumn("__th",
      transform(split(col("__text"), " "), w => xxhash64(w)))
    // per-doc distinct → count(*) = holding-doc count (no distinct state)
    val dup = withTh
      .select(explode(array_distinct(tri)).as("sp"))
      .groupBy("sp").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= minDocs)
      .select("sp")
    val cutPos = withTh
      .select(col("doc_id"), posexplode(tri).as(Seq("__p", "sp")))
      .join(dup, Seq("sp"))
      .select(col("doc_id"), explode(array(
        col("__p") + 1, col("__p") + 2, col("__p") + 3)).as("j"))
      .groupBy("doc_id")
      .agg(collect_set(col("j")).as("__cut"))
    // same materialization rule for the rewrite: the kept-position lambda
    // indexes the token array per surviving token
    val tt = col("__tt")
    val cuts = coalesce(col("__cut"), array().cast("array<int>"))
    prepped
      .join(cutPos, Seq("doc_id"), "left")
      .withColumn("__tt", split(col("__text"), " "))
      .select(col("doc_id"),
        // null guard matters: sequence(1, size(null)) would COUNT DOWN
        when(col("__text").isNull, lit(null).cast("string"))
          .otherwise(concat_ws(" ", transform(
            array_except(sequence(lit(1), size(tt)), cuts),
            j => element_at(tt, j)))).as("clean_text"),
        size(cuts).cast("long").as("n_cut_tokens"))
  }

  /** MinHash signature length / LSH banding layout. With 128 hashes in
    * 32 bands × 4 rows, a pair at Jaccard 0.9 is missed with probability
    * (1 - 0.9^4)^32 ≈ 1e-15 — effectively exhaustive at the 0.6+ range
    * while keeping the search linear in corpus size. */
  val NumHashes: Int = graft.functions.GraftFunctions.NumHashes
  val Bands = 32
  val RowsPerBand: Int = NumHashes / Bands

  /** 32 (band, bucket-hash) structs off a 128-long signature column —
    * ONE banding definition shared by the aggregate (batch) and row-level
    * (streaming) signature paths, so both land in identical buckets. */
  private[graft] def bandStructs(sig: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(graft.functions.LshBands(
      org.apache.spark.sql.graft.ColumnBridge.expression(sig),
      Bands, RowsPerBand))

  /** Exact Jaccard of two distinct-shingle-set columns — one arithmetic
    * path shared by batch pair verification and the streaming candidate
    * verify, so certified values agree bit-for-bit. */
  private[graft] def jaccardOfSets(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    inter / (size(a) + size(b) - inter)
  }

  /** (doc_id, band, bh) LSH band buckets for a corpus, as a pure NARROW
    * map: each document's shingle set sits whole on its row, so the
    * 128-permutation signature comes from the row-level
    * [[graft.functions.MinHashRow]] expression and each 4-row band hashes
    * to a bucket id — zero shuffle until the candidate join. The earlier
    * explode → groupBy → [[graft.functions.MinHashSketch]] formulation
    * exchanged one signature row per document for nothing: the explode's
    * partial aggregate was already per-document-complete within a
    * partition (StreamingSpec pins the two paths bit-identical; the
    * aggregate remains the right shape when shingles arrive pre-exploded,
    * e.g. from a normalized shingle table). Shared by the self-join,
    * cross-corpus, and (as the static index) streaming incremental pair
    * paths. */
  private[graft] def bandedBuckets(
      docs: DataFrame, id: String, text: String): DataFrame =
    fanOut(docs)
      .select(col(id).as("doc_id"),
        shingleSignature(wordTrigrams(col(text))).as("sig"))
      .select(col("doc_id"), explode(bandStructs(col("sig"))).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bh").as("bh"))

  /** Row-level MinHash signature of a distinct-shingle-set column: each
    * shingle's `pmod(xxhash64(t), HashPrime)` into
    * [[graft.functions.MinHashRow]], both as codegen'd expressions so the
    * projection stays inside its whole-stage pipeline. */
  private[graft] def shingleSignature(shingles: Column): Column =
    graft.functions.GraftFunctions.minHashRow(
      graft.functions.GraftFunctions.shingleHashes(shingles))

  /** Near-dup pairs via MinHash+LSH candidates, exact-verified by shingle
    * intersection. Output matches the exact all-pairs result (same doc_a,
    * doc_b, jaccard) because verification recomputes true Jaccard and the
    * banding miss probability is negligible.
    */
  def minHashLshPairs(
      docs: DataFrame, id: String, text: String,
      threshold: Double): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    // LSH banding: docs sharing any (band, bandHash) bucket are candidates.
    val buckets = bandedBuckets(docs, id, text)
    val cand = buckets.as("x")
      .join(buckets.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()

    verifyPairs(cand, docs, docs, "doc_a", "doc_b", id, text, threshold)
  }

  /** Exact-Jaccard verification of candidate pairs, shared by the
    * self-join and cross-corpus paths (a fix to this logic must hit both
    * certified outputs at once). Shingle sets are rebuilt from the
    * un-fanned sources: the shingle expression is cheap per row and this
    * avoids replaying the fan-out shuffle just to probe a handful of
    * candidate doc ids.
    *
    * @param cand two id columns named `aName`, `bName`
    * @return aName, bName, jaccard (≥ threshold) */
  private def verifyPairs(
      cand: DataFrame, aDocs: DataFrame, bDocs: DataFrame,
      aName: String, bName: String, id: String, text: String,
      threshold: Double): DataFrame = {
    val va = aDocs.select(col(id).as(aName),
      wordTrigrams(col(text)).as("__tga"))
    val vb = bDocs.select(col(id).as(bName),
      wordTrigrams(col(text)).as("__tgb"))
    cand
      .join(va, Seq(aName))
      .join(vb, Seq(bName))
      .select(col(aName), col(bName),
        jaccardOfSets(col("__tga"), col("__tgb")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Incremental (cross-corpus) near-dup pairs: each INCOMING document
    * against an existing BASE corpus — the continual-pretraining shape,
    * where a new crawl batch must be deduplicated against everything
    * already in the training set without re-pairing the base with itself.
    * Same MinHash banding on both sides, candidates from the cross
    * equi-join on (band, bucket) only — base×base and new×new pairs are
    * never generated — then exact Jaccard verification on candidates.
    * Linear in |base| + |incoming|; the join output is bounded by true
    * cross collisions.
    *
    * @return base_id, new_id, jaccard (≥ threshold) */
  def minHashLshPairsAcross(
      base: DataFrame, incoming: DataFrame, id: String, text: String,
      threshold: Double): DataFrame = {
    graft.functions.GraftFunctions.register(base.sparkSession)
    val bb = bandedBuckets(base, id, text)
      .withColumnRenamed("doc_id", "base_id")
    val nb = bandedBuckets(incoming, id, text)
      .withColumnRenamed("doc_id", "new_id")
    val cand = bb.join(nb, Seq("band", "bh"))
      // a document present in BOTH corpora under the same id would emit a
      // trivial self-pair at jaccard 1.0 — not a duplicate to act on
      .filter(col("base_id") =!= col("new_id"))
      .select(col("base_id"), col("new_id"))
      .distinct()
    verifyPairs(cand, base, incoming, "base_id", "new_id", id, text, threshold)
  }

  /** 64-bit SimHash near-dup: per-shingle hash votes per bit, Hamming-
    * distance candidates via 4×16-bit band collisions. Votes come from
    * trigram shingles, not unigrams — on low-vocabulary corpora every
    * document shares most unigrams, so token-level SimHash cannot separate
    * near-dups from background; shingles restore discrimination.
    * `tokenHash` picks the shingle hash: [[xxhash64]] (default — the
    * at-scale choice, engine-specific) or [[md5Hash64]] (SQL-portable,
    * what q_d4's hash certification replays). */
  /** SQL-portable 64-bit token hash: two 32-bit md5-prefix chunks packed
    * into one long (`hi << 32 | lo` — the shift wraps into two's
    * complement, which equals DuckDB's `CAST(… AS HUGEINT)·2³² + lo`
    * unsigned form bit for bit). ~10× slower than [[xxhash64]] per token,
    * so it is the CERTIFICATION hash, not the at-scale default — but it
    * lets the entire SimHash pipeline (votes, signature packing, banded
    * Hamming search) replay exactly in the DuckDB oracle. */
  def md5Hash64(w: Column): Column =
    shiftleft(conv(substring(md5(w), 1, 8), 16, 10).cast("long"), 32)
      .bitwiseOR(conv(substring(md5(w), 9, 8), 16, 10).cast("long"))

  def simHashPairs(
      docs: DataFrame, id: String, text: String,
      maxHamming: Int,
      tokenHash: Column => Column = xxhash64(_)): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val toks = fanOut(docs).select(col(id).as("doc_id"),
      explode(wordTrigrams(col(text))).as("w"))
      .withColumn("h", tokenHash(col("w")))
    // bit j vote: +1 when set, -1 when clear; simhash bit j = (vote > 0) —
    // one SimHashSketch aggregate (long[64] vote buffer) instead of 64
    // sum() columns, same JIT-size reasoning as MinHashSketch.
    val sig = toks.groupBy("doc_id")
      .agg(graft.functions.GraftFunctions.simHashSketch(col("h"))
        .as("sim_sig"))
    hamming64Pairs(sig, maxHamming)
  }

  /** All pairs of 64-bit signatures within `maxHamming` — the banded
    * search shared by SimHash text near-dup and every perceptual
    * media-hash near-dup. By pigeonhole, any pair within distance d
    * shares at least one untouched band when there are > d bands —
    * candidate generation is EXHAUSTIVE for the near-dup range, not
    * probabilistic. Input columns: (doc_id, sim_sig). */
  /** The band split of a 64-bit signature column — array of
    * (band, value) structs, shared by the batch self-join and the
    * streaming stream-static variant.
    *
    * `numBands` sets the scale/threshold trade: fewer bands mean WIDER
    * band values, hence exponentially more bucket values and smaller
    * buckets — a 100k-signature corpus bucket-joins ~n²/2^w candidate
    * pairs per band (w = band width). The caller must keep
    * numBands > maxHamming for exhaustiveness; [[bandsFor]] picks the
    * smallest legal count, so a hamming-0 content-identity join (the
    * audio/image/video exact-twin paths) degenerates to a full 64-bit
    * equality join instead of 8 quadratic 8-bit buckets. */
  private[graft] def hammingBands(sig: Column, numBands: Int = 8): Column = {
    require(numBands > 0 && 64 % numBands == 0,
      s"band count must divide 64: $numBands")
    val w = 64 / numBands
    val mask = if (w == 64) -1L else (1L << w) - 1
    array((0 until numBands).map { k =>
      struct(lit(k).as("band"),
        shiftright(sig, k * w).bitwiseAND(lit(mask)).as("bv"))
    }: _*)
  }

  /** Smallest 64-dividing band count exceeding `maxHamming` — the widest
    * (most selective) exhaustive banding for the threshold. */
  private[graft] def bandsFor(maxHamming: Int): Int = {
    require(maxHamming >= 0 && maxHamming < 64,
      s"maxHamming out of range: $maxHamming")
    Seq(1, 2, 4, 8, 16, 32, 64).find(_ > maxHamming).get
  }

  private[graft] def hamming64Pairs(
      sig: DataFrame, maxHamming: Int): DataFrame = {
    val nb = bandsFor(maxHamming)
    val buckets = sig
      .select(col("doc_id"), col("sim_sig"),
        explode(hammingBands(col("sim_sig"), nb)).as("bk"))
      .select(col("doc_id"), col("sim_sig"),
        col("bk.band").as("band"), col("bk.bv").as("bv"))
    buckets.as("x")
      .join(buckets.as("y"),
        col("x.band") === col("y.band") && col("x.bv") === col("y.bv")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(col("x.sim_sig").bitwiseXOR(col("y.sim_sig")))
          .cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }
}
