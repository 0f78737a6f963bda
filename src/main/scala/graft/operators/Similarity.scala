package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`).
  *
  * Two paths:
  *  - brute-force cosine top-k: exact, O(|Q|·|C|) — correct baseline, used
  *    when the query set is small (broadcast) or as the oracle;
  *  - random-hyperplane LSH buckets: the scale path — candidates share a
  *    sign-pattern bucket, so the join is equi-key and linear-ish; recall
  *    traded via number of planes/tables.
  *
  * All arithmetic is `Column`-level (zip_with/aggregate fold over doubles,
  * sequential order) so results are bit-reproducible and SQL-portable.
  */
object Similarity {

  /** Sequential-fold dot product of two double-array columns. Uses the
    * native codegen'd [[graft.functions.DoubleDot]] expression (identical
    * ascending-index accumulation order to the HOF formulation — results
    * are bit-equal; this is purely the fast path). */
  def dot(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.doubleDot(a, b)

  private def requireRealClustering(k: Int): Unit =
    require(k >= 2,
      "semantic dedup with k=1 is exact all-pairs without the guard — " +
        "use cosineNearDupPairs for the exact path")

  /** vec_id, v (double array), nrm (L2 norm) — shared projection. Fans the
    * corpus across all cores first: a compact source (one parquet file →
    * one input split) would otherwise run every downstream pair loop
    * through a single task. */
  def normed(emb: DataFrame, id: String, vec: String): DataFrame =
    normedInPlace(
      emb.repartition(emb.sparkSession.sparkContext.defaultParallelism),
      id, vec)

  /** [[normed]] on the input's own partitioning, for a side whose
    * consumers broadcast or re-shuffle it anyway. */
  private def normedInPlace(
      emb: DataFrame, id: String, vec: String): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    // a cast, not transform(vec, x -> double(x)): a lambda would keep the
    // projection out of whole-stage codegen. The element nullability of
    // the input carries over, so `v` keeps the type the lambda gave it.
    val containsNull = emb.select(col(vec)).schema.head.dataType match {
      case org.apache.spark.sql.types.ArrayType(_, n) => n
      case _ => true
    }
    val v = col(vec).cast(org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.DoubleType, containsNull))
    emb
      .select(col(id).as("vec_id"), v.as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
  }

  def cosine(va: Column, vb: Column, na: Column, nb: Column): Column =
    dot(va, vb) / (na * nb)

  /** Random projection to `outDim` dimensions (Johnson–Lindenstrauss):
    * out[j] = v · plane_j / √outDim over [[hyperplanes]]' deterministic
    * LCG planes — reproducible across runs/executors, no RNG state, and
    * every dot is the codegen'd [[graft.functions.DoubleDot]]. The
    * standard pre-filter in front of dense similarity work: a 4× narrower
    * vector per row means 4× less exchange/cache in every downstream
    * pair loop, at a distortion RecallSpec measures and pins. Pure
    * projection (narrow map, no shuffle).
    *
    * @return id column (source name) + `proj` array<double> */
  def randomProjection(
      emb: DataFrame, id: String, vec: String, outDim: Int): DataFrame = {
    require(outDim >= 1, s"bad projection dim: $outDim")
    graft.functions.GraftFunctions.register(emb.sparkSession)
    // one bounded agg instead of .first(): an empty corpus must fail with
    // a clear message, and a ragged corpus (rows of differing vector
    // length) must fail loudly rather than silently projecting with
    // wrong-size hyperplanes built from whichever row came first
    val dims = emb.select(
      min(size(col(vec))).as("lo"), max(size(col(vec))).as("hi")).first()
    require(!dims.isNullAt(0), "randomProjection: empty input corpus")
    val dim = dims.getInt(0)
    require(dim == dims.getInt(1),
      s"randomProjection: ragged vector lengths ${dim}..${dims.getInt(1)}")
    require(outDim <= dim, s"projection must narrow: $outDim > $dim")
    val planes = hyperplanes(dim, outDim)
    val scale = 1.0 / math.sqrt(outDim.toDouble)
    val v = transform(col(vec), x => x.cast("double"))
    emb.select(col(id),
      array((0 until outDim).map { j =>
        dot(v, typedlit(planes(j).toSeq)) * lit(scale)
      }: _*).as("proj"))
  }

  /** All near-duplicate pairs with cosine ≥ threshold — EXACT, as a
    * balanced blocked self-join (the 1-Bucket-Theta layout of Okcan &
    * Riedewald, SIGMOD'11 "Processing Theta-Joins using MapReduce").
    *
    * Hyperplane LSH cannot certify this operator: at threshold 0.45 the
    * qualifying pairs sit at ~63° where each random plane separates them
    * with p≈0.35, so any banding/multi-probe scheme misses a material
    * fraction of true pairs. Exact all-pairs is inherently O(n²) compute;
    * what kills it on a cluster is the BroadcastNestedLoopJoin a naive
    * `a.id < b.id` join plans — one side fully materialized on every
    * executor, no partition balance. Instead:
    *
    *  - each vector hashes to one of `groups` blocks (g);
    *  - it is replicated once per block pair {g, h} it participates in
    *    (`explode` over h, key = (min, max) — `groups`× row replication,
    *    bounded and tunable, vs. whole-side broadcast);
    *  - pairs come from an EQUI-join on the block-pair key, so the shuffle
    *    partitions into groups·(groups+1)/2 uniformly-sized cells, each an
    *    independent (n/groups)² micro-cartesian;
    *  - a pair with g_a ≠ g_b matches in exactly one cell (h_a = g_b,
    *    h_b = g_a); same-block pairs are kept only in the diagonal cell —
    *    every pair computed exactly once, no distinct() needed.
    *
    * `maxRows` guards the quadratic path: computing all-pairs over more
    * rows needs an explicit opt-in (raise it consciously), so a 100 TB
    * pipeline cannot trip into O(n²) by accident. The guard probes with
    * `limit(maxRows+1).count()` — O(maxRows) refusal cost, one small eager
    * job at call time. Sizing `groups` ≈ √(2·cores) keeps every core busy
    * with one cell.
    */
  def cosineNearDupPairs(
      emb: DataFrame, id: String, vec: String,
      threshold: Double, groups: Int = 8,
      maxRows: Long = 2000000L): DataFrame = {
    require(Guard.atMost(emb, maxRows),
      s"cosineNearDupPairs is exact all-pairs (O(n^2) compute): input " +
        s"exceeds maxRows=$maxRows. Use lshTopK/lshBucket candidates + " +
        "exact verify at corpus scale, or raise maxRows explicitly.")
    val n = normed(emb, id, vec)
      .withColumn("g", pmod(xxhash64(col("vec_id")), lit(groups)).cast("int"))
    val expanded = n
      .withColumn("h", explode(sequence(lit(0), lit(groups - 1))))
      .withColumn("p1", least(col("g"), col("h")))
      .withColumn("p2", greatest(col("g"), col("h")))
    expanded.as("a")
      .join(expanded.as("b"),
        col("a.p1") === col("b.p1") && col("a.p2") === col("b.p2")
          && col("a.vec_id") < col("b.vec_id")
          && (col("a.g") =!= col("b.g")
            || (col("a.p1") === col("a.g") && col("a.p2") === col("a.g"))))
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"),
        cosine(col("a.v"), col("b.v"), col("a.nrm"), col("b.nrm")).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Exact top-k cosine neighbors for each query vector (queries broadcast
    * against the candidate corpus; ranks tie-broken by candidate id).
    * The rank is the exact salted two-level shortlist ([[saltedTopK]]),
    * so no window partition ever holds one query's full scored corpus. */
  def bruteForceTopK(
      queries: DataFrame, corpus: DataFrame, k: Int,
      salts: Int = 64): DataFrame = {
    require(k >= 1, s"bad k: $k")
    val scored = broadcast(queries.as("q"))
      .join(corpus.as("c"), col("q.vec_id") =!= col("c.vec_id"))
      .select(col("q.vec_id").as("query_id"), col("c.vec_id").as("cand_id"),
        cosine(col("q.v"), col("c.v"), col("q.nrm"), col("c.nrm")).as("sim"))
    saltedTopK(scored, k, salts,
      Seq(col("sim").desc, col("cand_id")), "sim")
  }

  /** EXACT salted two-level top-k over (query_id, cand_id, score) rows:
    * level 1 ranks within (query, salt-of-candidate) partitions and
    * keeps each salt's top-k; level 2 ranks the ≤ salts·k survivors per
    * query. Each query's global top-k is a subset of the union of its
    * per-salt top-ks (the [[TextAnalysis.capPerKey]] argument), so the
    * result is ROW-IDENTICAL to the single-window form — but no window
    * partition is ever corpus-sized: the single-window shape holds one
    * query's whole scored corpus in one sort task, the
    * group-sized-partition skew `q_o2`'s two-level rank exists to avoid
    * (the join paths get the same bound from [[distinctTopK]]'s partial
    * group limit). */
  private def saltedTopK(scored: DataFrame, k: Int, salts: Int,
      order: Seq[Column], score: String): DataFrame = {
    require(salts >= 1, s"bad salts: $salts")
    val w1 = Window.partitionBy(col("query_id"), col("__salt"))
      .orderBy(order: _*)
    val w2 = Window.partitionBy(col("query_id")).orderBy(order: _*)
    scored
      .withColumn("__salt",
        pmod(xxhash64(col("cand_id").cast("string")), lit(salts.toLong)))
      .withColumn("__r1", row_number().over(w1))
      .filter(col("__r1") <= k)
      .withColumn("rank", row_number().over(w2).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("cand_id"), col("rank"), col(score))
  }

  /** Duplicate-pair reduction (min score per (query, candidate)) FUSED
    * with the exact salted two-level top-k, sharing ONE exchange: the
    * raw pair rows repartition by (query, salt-of-candidate) once, the
    * dedup aggregation and the level-1 window both run inside that
    * partitioning, and only the level-2 rank re-shuffles (by query).
    * The unfused form — groupBy(query, cand) + [[saltedTopK]] — pays a
    * separate exchange for the dedup keyed on (query, cand), i.e. the
    * full candidate set crosses the network once more for no
    * row-level reduction (duplicate pairs are ≤ the soft-assign factor,
    * ~1.2×). Trade-off, documented: the shared exchange carries the
    * raw pre-dedup pairs instead of map-side-combined ones — bounded by
    * that same soft-assign factor — in return for dropping a whole
    * candidate-set exchange. Result rows are identical: dedup still
    * precedes ranking, same order columns, same salt hash. */
  private def dedupSaltedTopK(pairs: DataFrame, k: Int, salts: Int,
      order: Seq[Column], score: String): DataFrame = {
    require(salts >= 1, s"bad salts: $salts")
    val w1 = Window.partitionBy(col("query_id"), col("__salt"))
      .orderBy(order: _*)
    val w2 = Window.partitionBy(col("query_id")).orderBy(order: _*)
    pairs
      .withColumn("__salt",
        pmod(xxhash64(col("cand_id").cast("string")), lit(salts.toLong)))
      .repartition(col("query_id"), col("__salt"))
      .groupBy(col("query_id"), col("__salt"), col("cand_id"))
      .agg(min(col(score)).as(score))
      .withColumn("__r1", row_number().over(w1))
      .filter(col("__r1") <= k)
      .withColumn("rank", row_number().over(w2).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("cand_id"), col("rank"), col(score))
  }

  /** EXACT top-`k` distinct candidates per query in ONE ranked pass, over
    * (query_id, cand_id, score) pair rows in which a pair may repeat with
    * the same score (a candidate soft-assigned to several probed lists).
    * A `dense_rank` gives every copy of a pair the same rank, so the
    * filter keeps exactly the top `k` distinct pairs with all their
    * copies, and `distinct` over the `out` columns collapses the copies
    * without an exchange of its own (its rows are already clustered by
    * query). `rank` equals the `row_number` the pairs would get after a
    * dedup, because `order` ends in a key unique per candidate: two
    * candidates never tie.
    *
    * Skew: Spark plans the rank with a partial `WindowGroupLimit` below
    * its one exchange (inferred while `k` ≤
    * `spark.sql.optimizer.windowGroupLimitThreshold`, 1000 by default),
    * so every map task forwards at most `k` distinct candidates per
    * query and no task ever holds one query's whole candidate set — the
    * protection [[dedupSaltedTopK]]'s salted first level gives, with one
    * exchange, one window and no salt. The join paths use this form
    * (PlanSpec pins the group limit in q_x10 and q_x13).
    *
    * @return `out`, one row per surviving pair; `rank` (long, 1-based)
    *         may be among them */
  private def distinctTopK(pairs: DataFrame, k: Int,
      order: Seq[Column], out: String*): DataFrame = {
    val w = Window.partitionBy(col("query_id")).orderBy(order: _*)
    pairs
      .withColumn("rank", dense_rank().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(out.map(col): _*)
      .distinct()
  }

  /** Scalar quantizer (SQ8): one byte per DIMENSION — per-dim [min, max]
    * over the unit corpus, 256 uniform levels inside each range. The
    * third classic compression point next to PQ (one byte per SUBSPACE
    * group) and IVF (no compression): 8× smaller than float64 at far
    * higher fidelity than PQ, with NO trained codebooks — the quantizer
    * is a single exact min/max aggregation pass, which makes the whole
    * family closed-form and hash-certifiable (q_x11), unlike the
    * k-means-trained quantizers whose oracles must replay Lloyd
    * iterations. */
  final case class Sq8Quantizer(mins: Array[Double], spans: Array[Double])

  /** Per-element unit normalization of a normed frame's `v` by its
    * `nrm` — the Column twin of `PqMath.unit`'s elementwise division
    * (real corpora have no zero vectors; a zero norm propagates NaN in
    * both engines identically). */
  private def unitCol: Column = transform(col("v"), _ / col("nrm"))

  /** Train the SQ8 quantizer: exact per-dimension min/max over the unit
    * corpus. ONE distributed aggregation (posexplode → 2·dim partial
    * aggregates per task, dim rows total) and a dim-sized driver
    * collect — at 100 TB this is a map-side-combined scan, no iteration,
    * no sample bound needed. */
  def sq8Train(corpus: DataFrame): Sq8Quantizer = {
    val rows = corpus
      .select(posexplode(unitCol).as(Seq("i", "x")))
      .groupBy("i").agg(min("x").as("mn"), max("x").as("mx"))
      .orderBy("i").collect()
    require(rows.nonEmpty, "sq8Train: empty corpus")
    require(rows.head.getInt(0) == 0 && rows.last.getInt(0) == rows.length - 1,
      "sq8Train: ragged corpus (rows of differing vector length)")
    Sq8Quantizer(
      rows.map(_.getDouble(1)),
      rows.map(r => r.getDouble(2) - r.getDouble(1)))
  }

  /** SQ8 codes for a unit-vector column: per dimension
    * `clamp(floor((x − mn) / span · 256), 0, 255)` — pure builtin-HOF
    * Column composition (codegen'd), quantizer bounds ride as array
    * literals. */
  def sq8CodeCol(u: Column, q: Sq8Quantizer): Column = {
    val mnA = array(q.mins.map(lit): _*)
    val spA = array(q.spans.map(lit): _*)
    transform(u, (x, i) => {
      val mn = element_at(mnA, i + lit(1))
      val sp = element_at(spA, i + lit(1))
      when(sp === lit(0d), lit(0d)).otherwise(
        least(greatest(floor((x - mn) / sp * lit(256d)), lit(0d)), lit(255d)))
    }.cast("int"))
  }

  /** Reconstruction (decode) of an SQ8 code column back to doubles:
    * `mn + (code + 0.5) / 256 · span` — the cell midpoint. */
  def sq8ReconCol(code: Column, q: Sq8Quantizer): Column = {
    val mnA = array(q.mins.map(lit): _*)
    val spA = array(q.spans.map(lit): _*)
    transform(code, (c, i) => {
      val mn = element_at(mnA, i + lit(1))
      val sp = element_at(spA, i + lit(1))
      when(sp === lit(0d), mn).otherwise(
        mn + (c.cast("double") + lit(0.5)) / lit(256d) * sp)
    })
  }

  /** SQ8 asymmetric top-k: full-precision unit queries against the
    * quantizer-reconstructed corpus, ranked by exact-on-reconstruction
    * squared L2 (`‖q‖² = 1`, so d² = 1 − 2·q·r + ‖r‖²). Shape mirrors
    * [[bruteForceTopK]] — broadcast queries, one narrow scan, and the
    * exact salted two-level rank (`saltedTopK` — no corpus-sized window
    * partition); the corpus side reads 1-byte-per-dim codes
    * (8× less I/O than raw float64 at scale; compose with the IVF list
    * structure via [[ivfSq8TopK]] when a linear scan itself is too
    * much). Deterministic, closed-form end to end → hash-certified
    * (q_x11). */
  def sq8TopK(
      queries: DataFrame, corpus: DataFrame, k: Int,
      quant: Option[Sq8Quantizer] = None, salts: Int = 64): DataFrame = {
    require(k >= 1, s"bad k: $k")
    val q = quant.getOrElse(sq8Train(corpus))
    val coded = corpus.select(col("vec_id"), sq8CodeCol(unitCol, q).as("code"))
    val recon = coded.select(col("vec_id"), sq8ReconCol(col("code"), q).as("rv"))
    val qs = queries.select(col("vec_id").as("query_id"), unitCol.as("qu"))
    val scored = broadcast(qs)
      .join(recon, col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("cand_id"),
        ((lit(1d) - lit(2d) * dot(col("qu"), col("rv")))
          + dot(col("rv"), col("rv"))).as("d2"))
    saltedTopK(scored, k, salts, Seq(col("d2"), col("cand_id")), "d2")
  }

  /** Build a reusable [[Sq8Index]]: quantizer trained once (one exact
    * aggregation pass), corpus and byte codes materialized once — the
    * [[pqIndexBuild]] lifecycle with no sampled training step. */
  final case class Sq8Index(
      corpus: DataFrame, codes: DataFrame, quantizer: Sq8Quantizer)

  def sq8IndexBuild(emb: DataFrame, id: String, vec: String): Sq8Index = {
    val n = normed(emb, id, vec).localCheckpoint()
    val q = sq8Train(n)
    Sq8Index(n,
      n.select(col("vec_id"), sq8CodeCol(unitCol, q).as("code"))
        .localCheckpoint(), q)
  }

  /** Top-k against a prebuilt [[Sq8Index]] — pure query work: candidates
    * reconstruct from the stored byte codes (bit-identical to the
    * one-shot [[sq8TopK]] path, which encodes and reconstructs inline;
    * RecallSpec pins the equality). */
  def sq8TopK(index: Sq8Index, queries: DataFrame, k: Int): DataFrame =
    sq8TopK(index, queries, k, salts = 64)

  def sq8TopK(index: Sq8Index, queries: DataFrame, k: Int,
      salts: Int): DataFrame = {
    require(k >= 1, s"bad k: $k")
    val recon = index.codes.select(col("vec_id"),
      sq8ReconCol(col("code"), index.quantizer).as("rv"))
    val qs = queries.select(col("vec_id").as("query_id"), unitCol.as("qu"))
    val scored = broadcast(qs)
      .join(recon, col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("cand_id"),
        ((lit(1d) - lit(2d) * dot(col("qu"), col("rv")))
          + dot(col("rv"), col("rv"))).as("d2"))
    saltedTopK(scored, k, salts, Seq(col("d2"), col("cand_id")), "d2")
  }

  /** Append new vectors to a prebuilt [[Sq8Index]] WITHOUT retraining:
    * the frozen per-dim bounds encode the new rows (narrow map, no
    * shuffle). Out-of-range components clamp to the boundary cells —
    * rebuild when drift probes show the bounds no longer cover the
    * corpus. */
  def sq8IndexAppend(
      index: Sq8Index, emb: DataFrame, id: String,
      vec: String): Sq8Index = {
    val n2 = normed(emb, id, vec).localCheckpoint()
    Sq8Index(
      index.corpus.unionByName(n2),
      index.codes.unionByName(n2.select(col("vec_id"),
        sq8CodeCol(unitCol, index.quantizer).as("code"))),
      index.quantizer)
  }

  /** Persist a prebuilt [[Sq8Index]] under `dir` (stale appends pruned —
    * a rebuild's bounds are new, so rows encoded under the old quantizer
    * must never union back in). The quantizer rides the double-exact
    * parquet tensor, never text. */
  def sq8IndexSave(index: Sq8Index, dir: String): Unit = {
    val spark = index.corpus.sparkSession
    IndexIO.saveFrame(index.corpus, s"$dir/corpus")
    IndexIO.saveFrame(index.codes, s"$dir/codes")
    IndexIO.saveTensor(spark, s"$dir/quantizer",
      Array(Array(index.quantizer.mins, index.quantizer.spans)))
    IndexIO.writeMeta(spark, dir, "sq8",
      Map("dim" -> index.quantizer.mins.length.toLong))
    pruneAppends(spark, dir)
  }

  /** Reload an [[Sq8Index]] saved by [[sq8IndexSave]], committed on-disk
    * appends ([[sq8IndexAppendSave]]) unioned in. */
  def sq8IndexLoad(spark: org.apache.spark.sql.SparkSession,
      dir: String): Sq8Index = {
    val meta = IndexIO.readMeta(spark, dir, "sq8")
    val t = IndexIO.loadTensor(spark, s"$dir/quantizer")
    require(t.length == 1 && t(0).length == 2
        && t(0)(0).length == meta("dim") && t(0)(1).length == meta("dim"),
      s"quantizer tensor at $dir/quantizer does not carry 2×dim=" +
        s"${meta("dim")} rows")
    Sq8Index(
      frameWithAppends(spark, s"$dir/corpus", s"$dir/appends/corpus"),
      frameWithAppends(spark, s"$dir/codes", s"$dir/appends/codes"),
      Sq8Quantizer(t(0)(0), t(0)(1)))
  }

  /** On-disk append for a SAVED SQ8 index: new rows encoded under the
    * persisted frozen bounds. Idempotent per `batchId`. */
  def sq8IndexAppendSave(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      emb: DataFrame, id: String, vec: String, batchId: Long): Unit =
    writeAppend(dir, appendEncoders(spark, dir, "sq8"), emb, id, vec,
      batchId, prefix = "manual")

  /** IVF-SQ8 composed ANN: coarse-quantizer list pruning over
    * scalar-quantized payloads — the SQ8 twin of [[ivfPqTopK]], for when
    * a linear SQ8 scan ([[sq8TopK]]) is itself too much. The inverted
    * lists carry (vec_id, 1-byte-per-dim code, list_id): only the
    * queries' [[IvfProbes]] probed lists are read, and what is read is
    * codes (8× less I/O than raw float64 lists, at far higher fidelity
    * than PQ's one-byte-per-SUBSPACE codes). Candidates reconstruct at
    * the cell midpoint AFTER the list equi-join and rank by the same
    * exact-on-reconstruction `1 − 2·q·r + ‖r‖²` as [[sq8TopK]]; a
    * (query, candidate) pair meeting in up to [[IvfAssign]] shared lists
    * is collapsed by a (query, candidate) min-aggregation before the
    * exact salted two-level rank (d2 is identical on every copy — min is
    * just the dedup device, [[ivfTopK]]'s max(sim) in mirror). Both
    * quantizers are deterministic (hash-sampled Lloyd coarse; closed-form
    * min/max SQ8), so the whole composition hash-certifies (q_x12);
    * recall is probabilistic — RecallSpec pins the floor. */
  def ivfSq8TopK(
      emb: DataFrame, id: String, vec: String,
      queryPred: Column, k: Int, salts: Int = 64): DataFrame = {
    val n = normed(emb, id, vec).localCheckpoint()
    val cents = kmeansCentroids(n)
    val quant = sq8Train(n)
    // one-shot path: coded lists consumed exactly once → built lazily
    ivfSq8TopKFrom(
      IvfSq8Index(n, sq8CodedListRows(n, cents, quant), cents, quant),
      queryPred, k, salts)
  }

  /** A prebuilt, reusable IVF-SQ8 index: the normed corpus, its
    * SQ8-coded soft-assigned inverted-list rows, the coarse centroids,
    * and the scalar quantizer — the same build-daily / query-per-batch
    * lifecycle as [[IvfPqIndex]], with the closed-form quantizer in
    * place of trained codebooks. */
  final case class IvfSq8Index(
      corpus: DataFrame, codedLists: DataFrame,
      centroids: Array[Array[Double]], quantizer: Sq8Quantizer)

  /** (vec_id, code, list_id) SQ8-coded inverted-list rows for a normed
    * frame under FIXED quantizers — the narrow encode the initial build
    * and incremental appends share (the [[codedListRows]] twin). */
  private def sq8CodedListRows(
      n: DataFrame, cents: Array[Array[Double]],
      quant: Sq8Quantizer): DataFrame =
    ivfListRows(n, cents)
      .select(col("vec_id"), sq8CodeCol(unitCol, quant).as("code"),
        col("list_id"))

  /** Build a reusable [[IvfSq8Index]]: coarse quantizer from the bounded
    * deterministic sample, SQ8 bounds from ONE exact min/max pass,
    * corpus and coded lists materialized once. `lists` is the scale
    * lever, exactly as in [[ivfPqIndexBuild]]. */
  def ivfSq8IndexBuild(emb: DataFrame, id: String, vec: String,
      lists: Int = IvfLists): IvfSq8Index = {
    val n = normed(emb, id, vec).localCheckpoint()
    val cents = kmeansCentroids(n, lists)
    val quant = sq8Train(n)
    IvfSq8Index(n, sq8CodedListRows(n, cents, quant).localCheckpoint(),
      cents, quant)
  }

  /** Append new vectors to a prebuilt [[IvfSq8Index]] WITHOUT
    * retraining: frozen centroids soft-assign, frozen bounds encode
    * (narrow map, no shuffle); out-of-range components clamp to the
    * boundary cells. Rebuild when drift probes degrade. */
  def ivfSq8IndexAppend(
      index: IvfSq8Index, emb: DataFrame, id: String,
      vec: String): IvfSq8Index = {
    val n2 = normed(emb, id, vec).localCheckpoint()
    IvfSq8Index(
      index.corpus.unionByName(n2),
      index.codedLists.unionByName(
        sq8CodedListRows(n2, index.centroids, index.quantizer)),
      index.centroids, index.quantizer)
  }

  /** Top-k against a prebuilt [[IvfSq8Index]] — pure query work, the
    * family's collect-free small-batch path (queries broadcast). */
  def ivfSq8TopK(index: IvfSq8Index, queryPred: Column, k: Int,
      salts: Int): DataFrame =
    ivfSq8TopKFrom(index, queryPred, k, salts)

  def ivfSq8TopK(index: IvfSq8Index, queryPred: Column,
      k: Int): DataFrame =
    ivfSq8TopKFrom(index, queryPred, k, salts = 64)

  /** EXTERNAL-query overload of [[ivfSq8TopK]] — same contract as the
    * LSH/IVF/PQ twins: new vectors probe the prebuilt coded lists, no
    * self-exclusion, the (small) query frame broadcast. The asymmetric
    * distance here is the COLUMN formulation (`sq8ReconCol` + two HOF
    * folds), so IvfSq8JoinSpec's row-for-row equality with
    * [[ivfSq8TopKJoin]] pins the codegen'd
    * [[graft.functions.Sq8AdcDistance]] kernel bit-exactly against it
    * (the SQ8 mirror of IvfPqJoinSpec). */
  def ivfSq8TopK(
      index: IvfSq8Index, queries: DataFrame, id: String, vec: String,
      k: Int, probes: Int, salts: Int): DataFrame = {
    require(k >= 1, s"bad k: $k")
    require(probes >= 1 && probes <= index.centroids.length,
      s"probes must be in [1, ${index.centroids.length}]: $probes")
    val queryLists = normed(queries, id, vec)
      .select(col("vec_id").as("q_id"), unitCol.as("qu"),
        explode(topLists(index.centroids, probes)).as("list_id"))
    val rv = sq8ReconCol(col("code"), index.quantizer)
    val pairs = broadcast(queryLists)
      .join(index.codedLists, Seq("list_id"))
      .select(col("q_id").as("query_id"), col("vec_id").as("cand_id"),
        ((lit(1d) - lit(2d) * dot(col("qu"), rv)) + dot(rv, rv)).as("d2"))
    dedupSaltedTopK(pairs, k, salts, Seq(col("d2"), col("cand_id")), "d2")
  }

  def ivfSq8TopK(index: IvfSq8Index, queries: DataFrame, id: String,
      vec: String, k: Int): DataFrame =
    ivfSq8TopK(index, queries, id, vec, k, IvfProbes, 64)

  private def ivfSq8TopKFrom(
      index: IvfSq8Index, queryPred: Column, k: Int,
      salts: Int): DataFrame = {
    require(k >= 1, s"bad k: $k")
    val queryLists = index.corpus.filter(queryPred)
      .select(col("vec_id").as("q_id"), unitCol.as("qu"),
        explode(topLists(index.centroids, IvfProbes)).as("list_id"))
    val rv = sq8ReconCol(col("code"), index.quantizer)
    val pairs = broadcast(queryLists)
      .join(index.codedLists,
        queryLists("list_id") === index.codedLists("list_id")
          && col("q_id") =!= col("vec_id"))
      .select(col("q_id").as("query_id"), col("vec_id").as("cand_id"),
        ((lit(1d) - lit(2d) * dot(col("qu"), rv)) + dot(rv, rv)).as("d2"))
    dedupSaltedTopK(pairs, k, salts, Seq(col("d2"), col("cand_id")), "d2")
  }

  /** The DISTRIBUTED large-batch external-query IVF-SQ8 path — the
    * [[ivfPqTopKJoin]] deployment shape for the SQ8 family: the query
    * frame is NEVER collected and never broadcast-hinted (big by
    * assumption), candidates fall out of the (list_id) equi-join against
    * the coded lists, the asymmetric distance is the codegen'd
    * [[graft.functions.Sq8AdcDistance]] over a packed unit query and the
    * in-place byte codes (bit-equal to the one-shot path's Column
    * formulation — its scaladoc carries the fold argument), shared-list
    * duplicates collapse after the rank, and the final rank is the
    * exact one-pass [[distinctTopK]] (`salts` is ignored, as in
    * [[ivfPqTopKJoin]]). No re-rank stage: unlike PQ,
    * SQ8's exact-on-reconstruction d² IS the family's final metric, so
    * the pipeline ends at the rank (one fewer join than IVF-PQ). The
    * whole composition is deterministic → hash-certified (q_x13: every
    * corpus vector queries its own index, no self-exclusion — the
    * external-query contract). Same AQE skew note as [[ivfPqTopKJoin]]:
    * the join key space is only `lists` values; OptimizeSkewedJoin
    * splits hot lists by mapper ranges. */
  def ivfSq8TopKJoin(
      index: IvfSq8Index, queries: DataFrame, id: String, vec: String,
      k: Int, probes: Int = IvfProbes, salts: Int = 64): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    require(k >= 1, s"bad k: $k")
    val cents = index.centroids
    require(probes >= 1 && probes <= cents.length,
      s"probes must be in [1, ${cents.length}]: $probes")
    def packUnit(v: Column, nrm: Column): Column =
      ColumnBridge.column(graft.functions.PackUnitVector(
        ColumnBridge.expression(v), ColumnBridge.expression(nrm)))
    def sq8Adc(qu: Column, code: Column): Column =
      ColumnBridge.column(graft.functions.Sq8AdcDistance(
        ColumnBridge.expression(qu), ColumnBridge.expression(code),
        index.quantizer.mins, index.quantizer.spans))
    val queryLists = normed(queries, id, vec)
      .select(col("vec_id").as("q_id"),
        packUnit(col("v"), col("nrm")).as("qu"),
        explode(topLists(cents, probes, col("v"))).as("list_id"))
    val pairs = queryLists
      .join(index.codedLists, Seq("list_id"))
      .select(col("q_id").as("query_id"), col("vec_id").as("cand_id"),
        sq8Adc(col("qu"), col("code")).as("d2"))
    distinctTopK(pairs, k, Seq(col("d2"), col("cand_id")),
      "query_id", "cand_id", "rank", "d2")
  }

  /** Hyperplane-LSH layout: `Planes` sign bits per table × `LshTables`
    * independent tables. One 6-plane table alone is too selective — a true
    * neighbor at angle θ collides with probability (1-θ/π)^6, so recall@5
    * measured 0.06 on the sf0.1 fixture. Multi-table is the standard
    * recall lever: a pair is a candidate if it collides in ANY table,
    * 1-(1-p^6)^L, at the cost of L× bucket-row replication (rows carry
    * only (id, table, bucket) — vectors are joined back per candidate, so
    * the replication is 24 bytes/row, not the embedding). RecallSpec pins
    * the measured floor. */
  val Planes = 6
  val LshTables = 12

  /** Deterministic pseudo-random hyperplanes (LCG, fixed seed) — no RNG
    * state, reproducible across runs and executors. */
  def hyperplanes(dim: Int, planes: Int = Planes): Array[Array[Double]] = {
    var s = 42L
    def next(): Double = {
      s = s * 6364136223846793005L + 1442695040888963407L
      (s >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
    }
    Array.fill(planes, dim)(next())
  }

  /** Sign-pattern LSH bucket id for a double-vector column (single table:
    * planes [table*planes, (table+1)*planes) of the shared deterministic
    * sequence). */
  def lshBucket(
      v: Column, dim: Int, planes: Int = Planes, table: Int = 0): Column = {
    val hp = hyperplanes(dim, planes * (table + 1)).drop(planes * table)
    (0 until planes).map { p =>
      val w = typedlit(hp(p).toSeq)
      when(dot(v, w) > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
  }

  /** All (table, bucket) pairs of a vector across the `tables` LSH tables,
    * as an array column ready to explode. */
  def lshBuckets(
      v: Column, dim: Int, planes: Int = Planes,
      tables: Int = LshTables): Column =
    array((0 until tables).map(t =>
      struct(lit(t).as("t"), lshBucket(v, dim, planes, t).as("b"))): _*)

  /** Multi-probe bucket variants (Lv et al., VLDB'07) of an ALREADY
    * MATERIALIZED bucket column: the bucket itself plus every
    * single-bit-flip neighbor — a true neighbor separated by exactly one
    * plane in a table still collides there, lifting per-table recall from
    * p^planes to p^planes + planes·p^(planes-1)·(1-p). Taking the bucket
    * as a column (not recomputing it per probe) keeps the plane dot
    * products at one evaluation per (row, table); embedding the full
    * bucket expression in each probe struct would cost (planes+1)× the
    * dot products unless codegen CSE happens to rescue it. */
  def probeFlips(bucket: Column, planes: Int = Planes): Column =
    array((lit(0L) +: (0 until planes).map(p => lit(1L << p)))
      .map(bucket.bitwiseXOR): _*)

  /** IVF coarse quantization: inverted lists, query probes, corpus-side
    * soft assignment, quantizer training sample bound and Lloyd
    * iterations. Recall levers, measured on the sf0.1 fixture: 2/16
    * probes hard-assigned = 0.39; 6/16 probes = 0.67; 6/16 probes with
    * each corpus vector soft-assigned to its [[IvfAssign]]=2 nearest
    * lists = 0.89 (index 2×, candidates ≈ 2·6/16 of the corpus). The fixture is near-uniform random — the worst case for
    * coarse quantization, since true neighbors sit barely above
    * background cosine and scatter across cells; clustered real-world
    * corpora concentrate neighbors and probe far better. RecallSpec pins
    * the measured floor so a quantizer regression fails loudly. */
  val IvfLists = 16
  val IvfProbes = 6
  val IvfAssign = 2
  val IvfSample = 2048
  val IvfKMeansIters = 3

  /** The training sample both quantizers draw: (v, nrm, vec_id) of the
    * `sampleN` vectors of a normed frame with the smallest
    * xxhash64(vec_id). One query shape for both, so an IVF-PQ build
    * compiles its plan once. */
  private def hashSample(n: DataFrame, sampleN: Int): Array[Row] = n
    .select(col("v"), col("nrm"), col("vec_id"))
    .orderBy(xxhash64(col("vec_id")), col("vec_id"))
    .limit(sampleN)
    .collect()

  /** Spherical k-means centroids from a bounded deterministic sample
    * (sketch-then-solve). The sample is the `sampleN` corpus vectors with
    * the smallest xxhash64(vec_id) — a deterministic pseudo-random draw
    * taken with one distributed TakeOrderedAndProject (no full sort) —
    * and Lloyd's iterations run on the driver over ≤ sampleN·dim doubles
    * (~1 MB): constant driver state regardless of corpus size, the same
    * shape as collecting any aggregated sketch. Ties in the argmax go to
    * the lowest list id; empty lists keep their previous centroid, so the
    * whole training is reproducible bit-for-bit. Centroids are returned
    * unit-normalized: argmax_c cos(v, c) then reduces to argmax_c dot(v, c),
    * which the assignment expression exploits. */
  private[graft] def kmeansCentroids(
      n: DataFrame, lists: Int = IvfLists, iters: Int = IvfKMeansIters,
      sampleN: Int = IvfSample): Array[Array[Double]] = {
    val sample: Array[Array[Double]] =
      hashSample(n, sampleN).map(_.getSeq[Double](0).toArray)
    require(sample.length >= lists,
      s"IVF needs at least $lists vectors; got ${sample.length}")
    val dim = sample.head.length
    def unit(v: Array[Double]): Array[Double] = {
      val nrm = math.sqrt(v.map(x => x * x).sum)
      if (nrm == 0) v else v.map(_ / nrm)
    }
    var cents = sample.take(lists).map(unit)
    for (_ <- 1 to iters) {
      val sums = Array.fill(lists, dim)(0.0)
      val cnts = new Array[Long](lists)
      sample.foreach { v =>
        var best = 0
        var bestS = Double.NegativeInfinity
        var c = 0
        while (c < lists) {
          var s = 0.0
          var i = 0
          while (i < dim) { s += v(i) * cents(c)(i); i += 1 }
          if (s > bestS) { bestS = s; best = c } // strict: ties → lowest id
          c += 1
        }
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
        cnts(best) += 1
      }
      cents = Array.tabulate(lists) { c =>
        if (cnts(c) == 0) cents(c)
        else unit(sums(c).map(_ / cnts(c)))
      }
    }
    cents
  }

  /** Per-list scores of a vector column against literal unit centroids:
    * struct(dot, -list) columns, so lexicographic max = (best cosine,
    * lowest list id) — the norm of `v` scales every score equally and
    * drops out of the argmax. */
  private def listScores(v: Column, cents: Array[Array[Double]]): Seq[Column] =
    cents.toIndexedSeq.zipWithIndex.map { case (c, i) =>
      struct(dot(v, typedlit(c.toSeq)).as("cs"), lit(-i).as("nl"))
    }

  /** Embedding-space clustering as a first-class operator: every vector
    * assigned to its nearest spherical k-means centroid. Same machinery as
    * the IVF coarse quantizer — bounded deterministic sample training
    * ([[kmeansCentroids]]), literal centroids, map-side codegen'd argmax —
    * so assignment is a pure projection: no shuffle touches a corpus
    * vector, and the whole operator is one scan at any corpus size.
    * Deterministic end to end (hash-drawn sample, tie-to-lowest-id
    * argmax) → reproducible cluster ids, rows-only certification.
    *
    * @return vec_id, cluster (0-based), cos_sim (cosine to the centroid) */
  def kMeansAssign(
      emb: DataFrame, id: String, vec: String,
      k: Int = IvfLists, iters: Int = IvfKMeansIters,
      sampleN: Int = IvfSample): DataFrame =
    clusterAssigned(emb, id, vec, k, iters, sampleN)
      .select(col("vec_id"), col("cluster"), col("cos_sim"))

  /** Semantic deduplication (the SemDeDup recipe, Abbas et al. 2023,
    * arXiv:2303.09540): cluster the corpus with spherical k-means, then
    * search for near-duplicate pairs ONLY within each cluster — semantic
    * duplicates are near-identical vectors, so they share a nearest
    * centroid, and the all-pairs search collapses from O(n²) to
    * Σ c_i² over cluster sizes (k× cheaper when balanced). This is the
    * scale path exact [[cosineNearDupPairs]] cannot take: no guard needed,
    * because no task ever sees more than one cluster-block cell.
    *
    * Within a cluster the pair search reuses the 1-Bucket-Theta blocked
    * layout (keyed by (cluster, block-pair)): a dominant cluster spreads
    * over groups·(groups+1)/2 independent cells instead of one task, so
    * cluster skew degrades parallelism gracefully rather than serially.
    * Deterministic end to end (hash-sampled k-means, tie-to-lowest-id
    * argmax, fixed block hash); rows-only certification, with the recall
    * contract pinned by NorthStarSpec on a planted-duplicate corpus.
    *
    * @return cluster, va, vb (va < vb), sim — intra-cluster pairs with
    *         cosine ≥ threshold */
  def semanticDedupPairs(
      emb: DataFrame, id: String, vec: String, threshold: Double,
      k: Int = IvfLists, groups: Int = 4,
      iters: Int = IvfKMeansIters, sampleN: Int = IvfSample): DataFrame = {
    requireRealClustering(k)
    // checkpoint the ASSIGNMENT, not just the normed corpus: the skew
    // guard's aggregation and both self-join sides read it, and the
    // k-per-row argmax projection must not re-run three times
    clusterPairs(
      clusterAssigned(emb, id, vec, k, iters, sampleN).localCheckpoint(),
      threshold, groups)
  }

  /** vec_id, v, nrm, cluster, cos_sim — one k-means train + map-side
    * assignment, checkpointed so downstream pair search reads a
    * materialized corpus. The ONLY copy of the train-and-assign logic:
    * [[kMeansAssign]] and the semantic-dedup paths both project off this,
    * so a tie-break or argmax change cannot diverge between them. */
  private def clusterAssigned(
      emb: DataFrame, id: String, vec: String,
      k: Int, iters: Int, sampleN: Int): DataFrame = {
    val n = normed(emb, id, vec).localCheckpoint()
    val cents = kmeansCentroids(n, k, iters, sampleN)
    n.withColumn("__best", greatest(listScores(col("v"), cents): _*))
      .withColumn("cluster", (col("__best.nl") * lit(-1)).cast("int"))
      .withColumn("cos_sim", col("__best.cs") / col("nrm"))
      .drop("__best")
  }

  /** Blocked within-cluster pair search over an assigned corpus.
    *
    * Skew guard: the pair-space reduction is Σ cᵢ² vs n², so it only
    * exists while no cluster dominates. A degenerate corpus (everything
    * near-identical → one cluster) silently reverts to quadratic — refuse
    * it loudly and point at the exact path, the same philosophy as
    * [[Guard.atMost]] on the quadratic operators. One tiny aggregation —
    * callers checkpoint the assignment before handing it here, so the
    * guard, and both self-join sides after it, reuse one materialized
    * pass instead of re-running the k-per-row argmax projection three
    * times. Probes only above 100k rows: below that
    * even full-quadratic is a non-event, and tests/small corpora keep
    * clustering freedom. */
  private def clusterPairs(
      assigned: DataFrame, threshold: Double, groups: Int): DataFrame = {
    val sizes = assigned.groupBy("cluster").count()
      .agg(max(col("count")).as("mx"), sum(col("count")).as("n"))
      .head()
    val (mx, n) =
      if (sizes.isNullAt(0)) (0L, 0L)
      else (sizes.getLong(0), sizes.getLong(1))
    require(n <= 100000 || mx.toDouble / n <= 0.5,
      s"semantic dedup clustering degenerated: one cluster holds $mx of " +
        s"$n vectors, so the intra-cluster search is effectively exact " +
        "all-pairs. Raise k, or use cosineNearDupPairs (guarded exact) " +
        "for a corpus this self-similar.")
    val expanded = assigned
      .withColumn("g", pmod(xxhash64(col("vec_id")), lit(groups)).cast("int"))
      .withColumn("h", explode(sequence(lit(0), lit(groups - 1))))
      .withColumn("p1", least(col("g"), col("h")))
      .withColumn("p2", greatest(col("g"), col("h")))
    expanded.as("a")
      .join(expanded.as("b"),
        col("a.cluster") === col("b.cluster")
          && col("a.p1") === col("b.p1") && col("a.p2") === col("b.p2")
          && col("a.vec_id") < col("b.vec_id")
          && (col("a.g") =!= col("b.g")
            || (col("a.p1") === col("a.g") && col("a.p2") === col("a.g"))))
      .select(col("a.cluster").as("cluster"),
        col("a.vec_id").as("va"), col("b.vec_id").as("vb"),
        cosine(col("a.v"), col("b.v"), col("a.nrm"), col("b.nrm")).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Per-vector semantic-dedup verdict: every corpus vector with its
    * cluster and 'keep'/'drop' — drop when the vector loses a
    * [[semanticDedupPairs]] pair (the higher id of each near-dup pair, the
    * keep-lowest-id convention the text-side curation pipeline uses).
    * Total output = corpus size regardless of how many duplicates exist;
    * the k-means trains once and both the pair search and the verdict
    * join read the same checkpointed assignment.
    *
    * @return vec_id, cluster, verdict */
  def semanticDedup(
      emb: DataFrame, id: String, vec: String, threshold: Double,
      k: Int = IvfLists, groups: Int = 4): DataFrame = {
    requireRealClustering(k)
    val assigned =
      clusterAssigned(emb, id, vec, k, IvfKMeansIters, IvfSample)
        .localCheckpoint()
    val losers = clusterPairs(assigned, threshold, groups)
      .select(col("vb").as("vec_id")).distinct()
      .withColumn("__lose", lit(true))
    assigned.select(col("vec_id"), col("cluster"))
      .join(losers, Seq("vec_id"), "left_outer")
      .select(col("vec_id"), col("cluster"),
        when(col("__lose"), lit("drop")).otherwise(lit("keep"))
          .as("verdict"))
  }

  /** Diversity subsampling: keep the `perCluster` vectors with the
    * smallest (xxhash64(id), id) per k-means cluster — a deterministic
    * hash draw, the standard embedding-space de-biasing step before
    * training (cap over-represented modes instead of uniform random
    * sampling).
    *
    * Two-level selection, NOT a per-cluster window (a window
    * `partitionBy(cluster)` would pull each cluster — potentially most of
    * the corpus for a dominant mode — through one task):
    *  1. per partition, a bounded heap keeps at most `perCluster` rows per
    *     cluster (memory k·perCluster per task, constant);
    *  2. the exact global selection then runs over at most
    *     perCluster·numPartitions rows per cluster — never the cluster
    *     itself.
    * Hash ties are broken by the id's UTF-8 byte form under Spark's binary
    * string collation in BOTH phases, so the kept set is reproducible
    * across runs and repartitioning.
    *
    * @return vec_id, cluster (the kept rows) */
  def diversitySample(
      emb: DataFrame, id: String, vec: String,
      perCluster: Int, k: Int = IvfLists): DataFrame = {
    require(perCluster > 0, s"perCluster must be positive: $perCluster")
    val spark = emb.sparkSession
    val assigned = kMeansAssign(emb, id, vec, k)
      .select(col("vec_id"), col("cluster"),
        xxhash64(col("vec_id")).as("__h"))
    // Tie-break ids under the SAME collation the window phase uses: Spark
    // orders strings by UTF-8 bytes (unsigned, byte-wise), which differs
    // from Scala's UTF-16 code-unit String ordering for supplementary
    // characters — so the heap keys on UTF-8 bytes, not String.
    implicit val ord: Ordering[(Long, Array[Byte])] =
      new Ordering[(Long, Array[Byte])] {
        def compare(x: (Long, Array[Byte]), y: (Long, Array[Byte])): Int = {
          val c = java.lang.Long.compare(x._1, y._1)
          if (c != 0) c else java.util.Arrays.compareUnsigned(x._2, y._2)
        }
      }
    val partial = assigned.rdd.mapPartitions { it =>
      val heaps = scala.collection.mutable.Map
        .empty[Int, scala.collection.mutable.PriorityQueue[
          ((Long, Array[Byte]), org.apache.spark.sql.Row)]]
      it.foreach { r =>
        val key = (r.getLong(2),
          String.valueOf(r.get(0)).getBytes(
            java.nio.charset.StandardCharsets.UTF_8))
        val q = heaps.getOrElseUpdate(r.getInt(1),
          scala.collection.mutable.PriorityQueue.empty[
            ((Long, Array[Byte]), org.apache.spark.sql.Row)](
            Ordering.by(_._1)))
        q.enqueue((key, r))
        if (q.size > perCluster) { q.dequeue(); () } // drop current largest
      }
      heaps.valuesIterator.flatMap(_.iterator.map(_._2))
    }
    val reduced = spark.createDataFrame(partial, assigned.schema)
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("__h"), col("vec_id").cast("string"))
    reduced
      .withColumn("__r", row_number().over(w))
      .filter(col("__r") <= perCluster)
      .select(col("vec_id"), col("cluster"))
  }

  /** IVF-style ANN. The coarse quantizer is k-means trained on a bounded
    * deterministic sample ([[kmeansCentroids]]); centroids then ride into
    * the plan as literals, so the corpus-side list assignment is a pure
    * codegen'd projection — IvfLists dot products per row, argmax via
    * `greatest` over (score, -list) structs. No crossJoin, no window, no
    * shuffle touches a corpus vector until the candidate equi-join on
    * list id; queries probe their IvfProbes nearest lists (sort_array over
    * the same literal scores). With [[IvfAssign]]-way soft assignment a
    * (query, candidate) pair can meet in up to IvfAssign shared lists, so
    * candidates are collapsed by a (query, candidate) aggregation before
    * ranking — removing that dedup would hand row_number duplicate rows
    * and displace true neighbors. Probabilistic recall → rows-only
    * certification.
    *
    * The normed corpus is materialized ONCE via `localCheckpoint` (the
    * index-build pass every IVF structure pays): the quantizer sample, the
    * corpus-list branch and the query-list branch all read the checkpointed
    * blocks instead of each re-scanning + re-shuffling the source (three
    * full corpus passes previously). `localCheckpoint` rather than
    * `persist()` because its blocks are reference-tracked — the
    * ContextCleaner frees them once the result frame is dropped, with no
    * CacheManager entry to leak across a long-lived session.
    */
  def ivfTopK(
      emb: DataFrame, id: String, vec: String,
      queryPred: Column, k: Int): DataFrame = {
    val n = normed(emb, id, vec).localCheckpoint()
    val cents = kmeansCentroids(n)
    // one-shot path: inverted lists consumed exactly once → built lazily
    ivfTopK(IvfIndex(n, ivfListRows(n, cents), cents), queryPred, k)
  }

  /** A prebuilt, reusable IVF index: the normed corpus, its soft-assigned
    * inverted-list rows, and the trained quantizer centroids — the IVF
    * twin of [[LshIndex]] with the same build-daily / query-per-batch
    * deployment shape and the same lifecycle reasoning
    * ([[ivfIndexBuild]] `localCheckpoint`s both frames; centroids are a
    * driver-side model artifact a caller can persist as literals). */
  final case class IvfIndex(
      corpus: DataFrame, lists: DataFrame, centroids: Array[Array[Double]])

  // the `count` best lists by dot product, ties to the lower list id
  private def topLists(
      cents: Array[Array[Double]], count: Int,
      v: Column = col("v")): Column =
    graft.functions.GraftFunctions.topCentroids(v, cents, count)

  /** (vec_id, v, nrm, list_id) soft-assigned inverted-list rows: each
    * corpus vector lives in its [[IvfAssign]] nearest lists (2× index
    * rows; recall lever — see the constants' scaladoc). */
  private def ivfListRows(
      n: DataFrame, cents: Array[Array[Double]]): DataFrame = n
    .select(col("vec_id"), col("v"), col("nrm"),
      explode(topLists(cents, IvfAssign)).as("list_id"))

  /** Build a reusable [[IvfIndex]]: quantizer trained once, corpus and
    * inverted lists materialized once. */
  def ivfIndexBuild(emb: DataFrame, id: String, vec: String): IvfIndex = {
    val n = normed(emb, id, vec).localCheckpoint()
    val cents = kmeansCentroids(n)
    IvfIndex(n, ivfListRows(n, cents).localCheckpoint(), cents)
  }

  /** Append new vectors to a prebuilt [[IvfIndex]] WITHOUT retraining:
    * the frozen coarse centroids soft-assign the new rows (narrow map,
    * no shuffle) and both frames grow by union — the same build-daily /
    * append-hourly lifecycle as [[ivfPqIndexAppend]]. Centroids drift as
    * the corpus distribution shifts; rebuild when recall probes
    * degrade. */
  def ivfIndexAppend(
      index: IvfIndex, emb: DataFrame, id: String,
      vec: String): IvfIndex = {
    val n2 = normed(emb, id, vec).localCheckpoint()
    IvfIndex(
      index.corpus.unionByName(n2),
      index.lists.unionByName(ivfListRows(n2, index.centroids)),
      index.centroids)
  }

  /** Approximate top-k against a prebuilt [[IvfIndex]] — pure query work:
    * probe-list explode map-side, candidates from the list equi-join,
    * per-pair dedup before ranking. */
  def ivfTopK(index: IvfIndex, queryPred: Column, k: Int): DataFrame =
    ivfTopKFrom(index, index.corpus.filter(queryPred)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qnrm")), excludeSelf = true, k)

  /** EXTERNAL-query overload of [[ivfTopK]] — same contract as the LSH
    * twin: new vectors probe the prebuilt inverted lists, no
    * self-exclusion. */
  def ivfTopK(index: IvfIndex, queries: DataFrame, id: String, vec: String,
      k: Int): DataFrame =
    ivfTopKFrom(index, normed(queries, id, vec)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qnrm")), excludeSelf = false, k)

  private def ivfTopKFrom(
      index: IvfIndex, q: DataFrame, excludeSelf: Boolean,
      k: Int): DataFrame = {
    val queryLists = q
      .select(col("q_id"), col("qv"), col("qnrm"),
        explode(topLists(index.centroids, IvfProbes, col("qv")))
          .as("list_id"))
    val cand = broadcast(queryLists)
      .join(index.lists,
        queryLists("list_id") === index.lists("list_id")
          && (if (excludeSelf) col("q_id") =!= col("vec_id")
              else lit(true)))
      .select(col("q_id").as("query_id"), col("vec_id").as("cand_id"),
        cosine(col("qv"), col("v"), col("qnrm"), col("nrm")).as("sim"))
      // a (query, candidate) pair can meet in up to IvfAssign shared
      // lists — collapse duplicates before ranking (sim is identical on
      // every copy, so max() is just the dedup device)
      .groupBy("query_id", "cand_id")
      .agg(max(col("sim")).as("sim"))
    val wr = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("cand_id"))
    cand
      .withColumn("rank", row_number().over(wr).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("cand_id"), col("rank"), col("sim"))
  }

  /** Approximate top-k via multi-table, multi-probe hyperplane LSH: a
    * candidate is any corpus vector sharing a (table, bucket) cell with
    * the query's exact OR single-bit-flip buckets ([[probeFlips]]) in ANY
    * of the [[LshTables]] tables. Misses remain possible by
    * construction (rows-only certification; RecallSpec pins the measured
    * recall floor); the payoff is equi-joins all the way — no cross join.
    *
    * Scale shape: the replicated bucket rows carry only (id, table,
    * bucket) — ~24 bytes × `tables`, NOT the embedding; candidate pairs
    * are distinct-ed and the vectors joined back once (queries broadcast,
    * one hash join against the corpus). The corpus projection is
    * materialized once via `localCheckpoint` (same index-build reasoning
    * and ContextCleaner lifecycle as [[ivfTopK]]) since buckets, query
    * vectors and candidate vectors all derive from it. */
  def lshTopK(
      emb: DataFrame, id: String, vec: String,
      queryPred: Column, k: Int, dim: Int): DataFrame = {
    val n = normed(emb, id, vec).localCheckpoint()
    lshTopK(LshIndex(n, lshBucketRows(n, dim), dim), queryPred, k)
  }

  /** A prebuilt, reusable LSH index: the normed corpus projection and its
    * (vec_id, table, bucket) rows. [[lshIndexBuild]] materializes both
    * once; every subsequent [[lshTopK]] call against the index is pure
    * query work — no re-scan, no re-hash of the corpus. This is the shape
    * a production ANN deployment runs (build daily / query per batch);
    * the one-shot `lshTopK(emb, …)` overload remains for ad-hoc calls and
    * builds the bucket rows lazily (they are consumed exactly once there,
    * so materializing them would only add a pass). For cross-session
    * reuse, write `buckets`/`corpus` to a table and reconstruct the index
    * from the two frames. */
  final case class LshIndex(corpus: DataFrame, buckets: DataFrame, dim: Int)

  /** (vec_id, ct, cbk) bucket rows of a normed corpus — 24 B/row ×
    * [[LshTables]]; the replicated index never carries the embedding. */
  private def lshBucketRows(n: DataFrame, dim: Int): DataFrame = n
    .select(col("vec_id"), explode(lshBuckets(col("v"), dim)).as("tb"))
    .select(col("vec_id"),
      col("tb").getField("t").as("ct"), col("tb").getField("b").as("cbk"))

  /** Build a reusable [[LshIndex]]: normed corpus and bucket rows each
    * `localCheckpoint`ed (ContextCleaner-tracked, same lifecycle reasoning
    * as [[ivfTopK]]). */
  def lshIndexBuild(
      emb: DataFrame, id: String, vec: String, dim: Int): LshIndex = {
    val n = normed(emb, id, vec).localCheckpoint()
    LshIndex(n, lshBucketRows(n, dim).localCheckpoint(), dim)
  }

  /** Append new vectors to a prebuilt [[LshIndex]]: the hyperplane
    * family is a fixed-seed pure function of `dim`, so new rows hash
    * into the SAME buckets as the original build (narrow map, no
    * shuffle) and both frames grow by union. Unlike the quantizer-based
    * indexes there is no trained state to drift — appends never degrade
    * the banding itself, only the bucket occupancy balance. */
  def lshIndexAppend(
      index: LshIndex, emb: DataFrame, id: String,
      vec: String): LshIndex = {
    val n2 = normed(emb, id, vec).localCheckpoint()
    LshIndex(
      index.corpus.unionByName(n2),
      index.buckets.unionByName(lshBucketRows(n2, index.dim)),
      index.dim)
  }

  /** Approximate top-k against a prebuilt [[LshIndex]] — the query-side
    * half of the one-shot overload: query buckets + multi-probe flips
    * explode map-side, candidates fall out of the (table, bucket)
    * equi-join, scoring joins vectors back once. */
  def lshTopK(index: LshIndex, queryPred: Column, k: Int): DataFrame =
    lshTopKFrom(index, index.corpus.filter(queryPred)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qnrm")), excludeSelf = true, k)

  /** EXTERNAL-query overload: top-k for query vectors that are NOT corpus
    * rows (the batch-inference shape — embed new documents, probe the
    * daily index). The query frame carries its own id/vector columns; no
    * self-exclusion applies (an external query equal to a corpus vector
    * should surface it at rank 1 — that is the lookup working). */
  def lshTopK(index: LshIndex, queries: DataFrame, id: String, vec: String,
      k: Int): DataFrame =
    lshTopKFrom(index, normed(queries, id, vec)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qnrm")), excludeSelf = false, k)

  /** Shared query-side half of both [[lshTopK]] overloads: `q` is the
    * normalized (q_id, qv, qnrm) query frame. Exact buckets materialize
    * first (one dot-product pass), THEN the multi-probe single-bit flips
    * explode over the bucket column. */
  private def lshTopKFrom(
      index: LshIndex, q: DataFrame, excludeSelf: Boolean,
      k: Int): DataFrame = {
    val n = index.corpus
    val qb = q
      .select(col("q_id"),
        explode(lshBuckets(col("qv"), index.dim)).as("tb"))
      .select(col("q_id"),
        col("tb").getField("t").as("qt"), col("tb").getField("b").as("qb0"))
      .select(col("q_id"), col("qt"),
        explode(probeFlips(col("qb0"))).as("qbk"))
    val cand = broadcast(qb)
      .join(index.buckets,
        col("qt") === col("ct") && col("qbk") === col("cbk")
          && (if (excludeSelf) col("q_id") =!= col("vec_id") else lit(true)))
      .select(col("q_id").as("query_id"), col("vec_id").as("cand_id"))
      .distinct()
    val scored = cand
      .join(broadcast(q.select(col("q_id").as("query_id"),
        col("qv"), col("qnrm"))), Seq("query_id"))
      .join(n.select(col("vec_id").as("cand_id"),
        col("v").as("cv"), col("nrm").as("cnrm")), Seq("cand_id"))
      .select(col("query_id"), col("cand_id"),
        cosine(col("qv"), col("cv"), col("qnrm"), col("cnrm")).as("sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("cand_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("cand_id"), col("rank"), col("sim"))
  }

  // ---- Product quantization (Jégou et al., TPAMI'11) -----------------

  /** PQ layout: [[PqSubspaces]] sub-vectors × one byte each — a 64-dim
    * float embedding (256 B) compresses to an 8 B code, so a 100 TB
    * embedding column scans as ~3 TB of codes. [[PqCodebook]] codewords
    * per subspace is the classic 8-bit operating point (clamped to the
    * training-sample size on tiny corpora, where quantization is then
    * lossless-ish anyway). The ADC shortlist re-ranked exactly is
    * [[PqRerank]]·k per query — the recall lever, and re-ranking is
    * nearly free (80 exact cosines per query at k=5). Measured recall@5
    * on the near-uniform sf0.1 fixture (ANN's worst case): rerank
    * 4/8/16/32 → 0.69/0.79/0.91/0.96 at 8 B codes; doubling the code to
    * 16 B (m=16, still 16× compression) reaches 0.91 at rerank=4 and
    * 1.00 at rerank=8 — both levers are caller-tunable. RecallSpec pins
    * the default operating point's floor. */
  val PqSubspaces = 8
  val PqCodebook = 256
  val PqRerank = 16

  /** A prebuilt, reusable PQ index: the normed corpus, its byte codes,
    * and the per-subspace codebooks (a ~128 KB driver-side model artifact,
    * like the IVF centroids). Same build-daily / query-per-batch shape as
    * [[LshIndex]]/[[IvfIndex]]. */
  final case class PqIndex(
      corpus: DataFrame, codes: DataFrame,
      codebooks: Array[Array[Array[Double]]])

  /** L2 argmin over codewords — ties to the lowest code, so encoding is
    * reproducible. Lives in a serializable holder: the encode/scan
    * closures call it on executors. */
  private[graft] object PqMath extends Serializable {
    def nearest(p: Array[Double], off: Int, cents: Array[Array[Double]]): Int = {
      val sub = cents(0).length
      var best = 0
      var bestD = Double.PositiveInfinity
      var c = 0
      while (c < cents.length) {
        var d = 0.0
        var i = 0
        while (i < sub) { val t = p(off + i) - cents(c)(i); d += t * t; i += 1 }
        if (d < bestD) { bestD = d; best = c } // strict: ties → lowest code
        c += 1
      }
      best
    }
    def unit(v: Array[Double], nrm: Double): Array[Double] =
      if (nrm == 0) v else v.map(_ / nrm)
    def utf8(id: Any): Array[Byte] =
      String.valueOf(id).getBytes(java.nio.charset.StandardCharsets.UTF_8)
  }

  /** Per-subspace k-means codebooks from the same bounded deterministic
    * hash-drawn sample as [[kmeansCentroids]] (sketch-then-solve; ≤
    * sampleN·dim doubles of driver state, ~1 MB). Trained on
    * UNIT-normalized vectors so the L2 codes approximate cosine
    * (‖a−b‖² = 2−2cos on the unit sphere). Deterministic end to end:
    * hash-drawn sample, first-k init, tie-to-lowest argmin, empty cells
    * keep their centroid. */
  def pqCodebooks(
      n: DataFrame, m: Int = PqSubspaces, k: Int = PqCodebook,
      iters: Int = IvfKMeansIters, sampleN: Int = IvfSample)
      : Array[Array[Array[Double]]] = {
    require(m >= 1, s"bad subspace count: $m")
    require(k >= 1 && k <= 256, s"PQ codes are one byte: k=$k not in [1,256]")
    val sample: Array[Array[Double]] = hashSample(n, sampleN)
      .map(r => PqMath.unit(r.getSeq[Double](0).toArray, r.getDouble(1)))
    require(sample.nonEmpty, "PQ needs a non-empty corpus")
    val dim = sample.head.length
    require(dim % m == 0, s"PQ subspaces must divide the dim: $dim % $m != 0")
    val sub = dim / m
    val kk = math.min(k, sample.length) // tiny corpus: quantize losslessly
    Array.tabulate(m) { mi =>
      val off = mi * sub
      var cents =
        Array.tabulate(kk)(c => sample(c).slice(off, off + sub))
      for (_ <- 1 to iters) {
        val sums = Array.fill(kk, sub)(0.0)
        val cnts = new Array[Long](kk)
        sample.foreach { u =>
          val best = PqMath.nearest(u, off, cents)
          var i = 0
          while (i < sub) { sums(best)(i) += u(off + i); i += 1 }
          cnts(best) += 1
        }
        cents = Array.tabulate(kk) { c =>
          if (cnts(c) == 0) cents(c) else sums(c).map(_ / cnts(c))
        }
      }
      cents
    }
  }

  /** Encode a normed corpus against literal codebooks: one byte per
    * subspace via the codegen'd [[graft.functions.PqEncodeCode]]
    * expression (codebooks ride the codegen reference mechanism, ~128 KB
    * shipped once per task — the [[graft.functions.AdcDistance]] shape).
    * No shuffle — the code column is born on the corpus partitioning,
    * and the whole encode stays inside whole-stage codegen (PlanSpec
    * guards the no-RDD plan; PqEncodeSpec pins byte-equality with the
    * former mapPartitions scan).
    *
    * @return vec_id, code (binary, [[PqSubspaces]] bytes) */
  def pqEncode(
      n: DataFrame, books: Array[Array[Array[Double]]]): DataFrame =
    n.select(col("vec_id"), pqEncodeCol(books).as("code"))

  /** The shared encode Column both [[pqEncode]] and the IVF-PQ
    * inverted-list build project. */
  private def pqEncodeCol(books: Array[Array[Array[Double]]]): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.functions.PqEncodeCode(
      ColumnBridge.expression(col("v")),
      ColumnBridge.expression(col("nrm")), books))
  }

  /** Build a reusable [[PqIndex]]: codebooks trained once, corpus and
    * codes materialized once (`localCheckpoint`, ContextCleaner-tracked —
    * same lifecycle reasoning as [[ivfTopK]]). */
  def pqIndexBuild(
      emb: DataFrame, id: String, vec: String,
      m: Int = PqSubspaces, k: Int = PqCodebook): PqIndex = {
    val n = normed(emb, id, vec).localCheckpoint()
    val books = pqCodebooks(n, m, k)
    PqIndex(n, pqEncode(n, books).localCheckpoint(), books)
  }

  /** Append new vectors to a prebuilt [[PqIndex]] WITHOUT retraining:
    * the frozen codebooks encode the new rows (narrow map, no shuffle)
    * and both frames grow by union — the [[ivfPqIndexAppend]] lifecycle.
    * Codebooks drift as the corpus distribution shifts; rebuild when
    * recall probes degrade. */
  def pqIndexAppend(
      index: PqIndex, emb: DataFrame, id: String,
      vec: String): PqIndex = {
    val n2 = normed(emb, id, vec).localCheckpoint()
    PqIndex(
      index.corpus.unionByName(n2),
      index.codes.unionByName(pqEncode(n2, index.codebooks)),
      index.codebooks)
  }

  /** One-shot PQ top-k (codes consumed exactly once → built lazily). */
  def pqTopK(
      emb: DataFrame, id: String, vec: String,
      queryPred: Column, k: Int): DataFrame = {
    val n = normed(emb, id, vec).localCheckpoint()
    val books = pqCodebooks(n)
    pqTopK(PqIndex(n, pqEncode(n, books), books), queryPred, k)
  }

  /** Approximate top-k against a prebuilt [[PqIndex]] by asymmetric
    * distance computation + exact re-rank:
    *
    *  1. the (collected, guarded-small) query vectors become per-task
    *     lookup tables LUT[q][subspace][code] = ‖q_sub − codeword‖², so
    *     scoring a corpus row is [[PqSubspaces]] array reads — no float
    *     dot against the corpus, and the scan touches only the 8 B codes;
    *  2. per partition, a bounded heap keeps the [[PqRerank]]·k best
    *     candidates per query (the [[diversitySample]] two-level shape —
    *     no corpus-wide window), ties broken by the id's UTF-8 bytes to
    *     match Spark's binary string collation in the global phase;
    *  3. the exact global shortlist (≤ rerank·k·partitions rows per
    *     query) is re-ranked by TRUE cosine with one vector join-back.
    *
    * Probabilistic recall (quantization can evict a true neighbor from
    * the shortlist) → rows-only certification; RecallSpec pins the floor.
    */
  def pqTopK(
      index: PqIndex, queryPred: Column, k: Int,
      rerank: Int = PqRerank): DataFrame =
    pqTopKFrom(index, index.corpus.filter(queryPred)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qnrm")), excludeSelf = true, k, rerank)

  /** EXTERNAL-query overload of [[pqTopK]] — same contract as the LSH and
    * IVF twins: new vectors score against the prebuilt codes, no
    * self-exclusion. (No default `rerank` here — Scala allows defaults on
    * only one overload; pass [[PqRerank]] for the standard operating
    * point.) */
  def pqTopK(
      index: PqIndex, queries: DataFrame, id: String, vec: String,
      k: Int, rerank: Int): DataFrame =
    pqTopKFrom(index, normed(queries, id, vec)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qnrm")), excludeSelf = false, k, rerank)

  private def pqTopKFrom(
      index: PqIndex, qFrame: DataFrame, excludeSelf: Boolean,
      k: Int, rerank: Int): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
    require(k >= 1, s"bad k: $k")
    require(rerank >= 1, s"bad rerank: $rerank")
    val books = index.codebooks
    val m = books.length
    val sub = books(0)(0).length
    val queries: Array[(Any, Array[Double])] = qFrame
      .select(col("q_id"), col("qv"), col("qnrm"))
      .collect()
      .map(r => (r.get(0), PqMath.unit(r.getSeq[Double](1).toArray,
        r.getDouble(2))))
    require(queries.length <= 1024,
      s"pqTopK holds one ADC lookup table per query per task: " +
        s"${queries.length} queries exceeds 1024. Batch the query set.")
    val shortlist = k * rerank
    val schema = StructType(Seq(
      qFrame.schema("q_id").copy(name = "q_id"),
      index.codes.schema("vec_id").copy(name = "cand_id"),
      StructField("adist", DoubleType, nullable = false)))
    val rows = index.codes.rdd.mapPartitions { it =>
      // LUTs once per task: |Q|·m·k doubles (8 queries → 16 K doubles)
      val luts: Array[Array[Array[Double]]] = queries.map { case (_, u) =>
        Array.tabulate(m) { mi =>
          val cents = books(mi)
          Array.tabulate(cents.length) { c =>
            var d = 0.0
            var i = 0
            while (i < sub) {
              val t = u(mi * sub + i) - cents(c)(i); d += t * t; i += 1
            }
            d
          }
        }
      }
      implicit val ord: Ordering[(Double, Array[Byte])] =
        new Ordering[(Double, Array[Byte])] {
          def compare(x: (Double, Array[Byte]),
              y: (Double, Array[Byte])): Int = {
            val c = java.lang.Double.compare(x._1, y._1)
            if (c != 0) c else java.util.Arrays.compareUnsigned(x._2, y._2)
          }
        }
      val heaps = Array.fill(queries.length)(
        scala.collection.mutable.PriorityQueue
          .empty[((Double, Array[Byte]), Any)](Ordering.by(_._1)))
      it.foreach { r =>
        val id = r.get(0)
        val code = r.getAs[Array[Byte]](1)
        val idBytes = PqMath.utf8(id)
        var q = 0
        while (q < queries.length) {
          if (!excludeSelf || queries(q)._1 != id) {
            var d = 0.0
            var mi = 0
            while (mi < m) { d += luts(q)(mi)(code(mi) & 0xff); mi += 1 }
            val h = heaps(q)
            h.enqueue(((d, idBytes), id))
            if (h.size > shortlist) { h.dequeue(); () } // drop worst
          }
          q += 1
        }
      }
      heaps.iterator.zipWithIndex.flatMap { case (h, q) =>
        h.iterator.map { case ((d, _), id) => Row(queries(q)._1, id, d) }
      }
    }
    val spark = index.corpus.sparkSession
    val part = spark.createDataFrame(rows, schema)
    val ws = Window.partitionBy(col("q_id"))
      .orderBy(col("adist"), col("cand_id").cast("string"))
    val short = part
      .withColumn("__r", row_number().over(ws))
      .filter(col("__r") <= shortlist)
      .select(col("q_id").as("query_id"), col("cand_id"))
    val n = index.corpus
    val scored = short
      .join(broadcast(qFrame.select(col("q_id").as("query_id"),
        col("qv"), col("qnrm"))), Seq("query_id"))
      .join(n.select(col("vec_id").as("cand_id"),
        col("v").as("cv"), col("nrm").as("cnrm")), Seq("cand_id"))
      .select(col("query_id"), col("cand_id"),
        cosine(col("qv"), col("cv"), col("qnrm"), col("cnrm")).as("sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("cand_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("cand_id"), col("rank"), col("sim"))
  }

  /** A prebuilt, reusable IVF-PQ index — the canonical billion-scale ANN
    * layout (coarse quantizer prunes which codes are even read; PQ codes
    * make what is read 8 B/row): the normed corpus, its PQ-coded
    * inverted-list rows, the coarse centroids, and the PQ codebooks.
    * Same build-daily / query-per-batch lifecycle as the LSH / IVF / PQ
    * indexes. */
  final case class IvfPqIndex(
      corpus: DataFrame, codedLists: DataFrame,
      centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]])

  /** Build a reusable [[IvfPqIndex]]: coarse quantizer and codebooks
    * trained once (both from the bounded deterministic sample), coded
    * list rows born narrow — each corpus vector is PQ-encoded inline in
    * its [[IvfAssign]] inverted-list rows (re-encoding the ≤2 copies
    * beats a corpus-wide join on vec_id). */
  /** (vec_id, code, list_id) coded inverted-list rows for a normed frame
    * under FIXED quantizers — the narrow encode both the initial build
    * and incremental appends share. */
  private def codedListRows(
      n: DataFrame, cents: Array[Array[Double]],
      books: Array[Array[Array[Double]]]): DataFrame =
    ivfListRows(n, cents)
      .select(col("vec_id"), pqEncodeCol(books).as("code"), col("list_id"))

  def ivfPqIndexBuild(
      emb: DataFrame, id: String, vec: String,
      m: Int = PqSubspaces, k: Int = PqCodebook,
      lists: Int = IvfLists): IvfPqIndex = {
    val n = normed(emb, id, vec).localCheckpoint()
    // `lists` is the scale lever: per-query candidate work is
    // |corpus|·probes/lists, so grow lists with the corpus (√n is the
    // classic choice) to keep a 10× corpus from costing 10× per query
    val cents = kmeansCentroids(n, lists)
    val books = pqCodebooks(n, m, k)
    IvfPqIndex(n, codedListRows(n, cents, books).localCheckpoint(),
      cents, books)
  }

  /** Append new vectors to a prebuilt [[IvfPqIndex]] WITHOUT retraining:
    * the frozen coarse centroids and codebooks encode the new rows
    * (narrow map, no shuffle), and both frames grow by union — the
    * build-daily / append-hourly lifecycle of a production ANN index.
    * Quantizers drift as the corpus distribution shifts; rebuild when
    * recall probes (RecallSpec's floors are the template) degrade. */
  def ivfPqIndexAppend(
      index: IvfPqIndex, emb: DataFrame, id: String,
      vec: String): IvfPqIndex = {
    val n2 = normed(emb, id, vec).localCheckpoint()
    IvfPqIndex(
      index.corpus.unionByName(n2),
      index.codedLists.unionByName(
        codedListRows(n2, index.centroids, index.codebooks)),
      index.centroids, index.codebooks)
  }

  /** One-shot IVF-PQ top-k (index consumed exactly once). */
  def ivfPqTopK(
      emb: DataFrame, id: String, vec: String,
      queryPred: Column, k: Int): DataFrame =
    ivfPqTopK(ivfPqIndexBuild(emb, id, vec), queryPred, k)

  /** Approximate top-k against a prebuilt [[IvfPqIndex]]: the
    * [[pqTopK]] ADC-shortlist-rerank kernel, except each scan task skips
    * every code row whose inverted list none of its queries probed — at
    * [[IvfProbes]]/[[IvfLists]] default geometry the scan reads ~3/8 of
    * the coded rows, and the read rows are 8 B codes, not vectors. Both
    * approximation sources compose: coarse pruning can drop a true
    * neighbor from the probed lists AND quantization can evict one from
    * the shortlist → rows-only certification; RecallSpec pins the
    * composed floor. */
  def ivfPqTopK(
      index: IvfPqIndex, queryPred: Column, k: Int,
      rerank: Int = PqRerank, probes: Int = IvfProbes): DataFrame =
    ivfPqTopKFrom(index, index.corpus.filter(queryPred)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qnrm")), excludeSelf = true, k, rerank, probes)

  /** EXTERNAL-query overload of [[ivfPqTopK]] — same contract as the
    * LSH/IVF/PQ twins: new vectors probe the prebuilt coded lists, no
    * self-exclusion. */
  def ivfPqTopK(
      index: IvfPqIndex, queries: DataFrame, id: String, vec: String,
      k: Int, rerank: Int, probes: Int): DataFrame =
    ivfPqTopKFrom(index, normed(queries, id, vec)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qnrm")), excludeSelf = false, k, rerank, probes)

  private def ivfPqTopKFrom(
      index: IvfPqIndex, qFrame: DataFrame, excludeSelf: Boolean,
      k: Int, rerank: Int, probes: Int): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
    require(k >= 1, s"bad k: $k")
    require(rerank >= 1, s"bad rerank: $rerank")
    val cents = index.centroids
    require(probes >= 1 && probes <= cents.length,
      s"probes must be in [1, ${cents.length}]: $probes")
    val books = index.codebooks
    val m = books.length
    val sub = books(0)(0).length
    val queries: Array[(Any, Array[Double], Array[Boolean])] = qFrame
      .collect()
      .map { r =>
        val u = PqMath.unit(r.getSeq[Double](1).toArray, r.getDouble(2))
        // driver-side probe selection mirrors topLists: score desc, then
        // lowest list id (norm scales every score equally — argmax-safe)
        val scored = cents.indices.map { c =>
          var s = 0.0
          var i = 0
          while (i < u.length) { s += u(i) * cents(c)(i); i += 1 }
          (-s, c)
        }.sorted.take(probes).map(_._2)
        val mask = new Array[Boolean](cents.length)
        scored.foreach(mask(_) = true)
        (r.get(0), u, mask)
      }
    require(queries.length <= 1024,
      s"ivfPqTopK holds one ADC lookup table per query per task: " +
        s"${queries.length} queries exceeds 1024. Batch the query set.")
    val shortlist = k * rerank
    val schema = StructType(Seq(
      qFrame.schema("q_id").copy(name = "q_id"),
      index.codedLists.schema("vec_id").copy(name = "cand_id"),
      StructField("adist", DoubleType, nullable = false)))
    val rows = index.codedLists.rdd.mapPartitions { it =>
      val luts: Array[Array[Array[Double]]] = queries.map { case (_, u, _) =>
        Array.tabulate(m) { mi =>
          val cs = books(mi)
          Array.tabulate(cs.length) { c =>
            var d = 0.0
            var i = 0
            while (i < sub) {
              val t = u(mi * sub + i) - cs(c)(i); d += t * t; i += 1
            }
            d
          }
        }
      }
      implicit val ord: Ordering[(Double, Array[Byte])] =
        new Ordering[(Double, Array[Byte])] {
          def compare(x: (Double, Array[Byte]),
              y: (Double, Array[Byte])): Int = {
            val c = java.lang.Double.compare(x._1, y._1)
            if (c != 0) c else java.util.Arrays.compareUnsigned(x._2, y._2)
          }
        }
      // bounded ORDERED SETS, not heaps: a vector soft-assigned to two
      // probed lists can appear twice in one partition with the IDENTICAL
      // (d, idBytes) key; a heap would let the duplicate occupy a second
      // shortlist slot and could evict a genuine top-`shortlist` candidate
      // (breaking row-equality with the join path, which dedups before
      // ranking). The set's key equality collapses the copies instead.
      val heaps = Array.fill(queries.length)(
        scala.collection.mutable.TreeSet
          .empty[((Double, Array[Byte]), Any)](Ordering.by(_._1)))
      it.foreach { r =>
        val id = r.get(0)
        val code = r.getAs[Array[Byte]](1)
        val listId = r.getInt(2)
        val idBytes = PqMath.utf8(id)
        var q = 0
        while (q < queries.length) {
          if (queries(q)._3(listId) &&
              (!excludeSelf || queries(q)._1 != id)) {
            var d = 0.0
            var mi = 0
            while (mi < m) { d += luts(q)(mi)(code(mi) & 0xff); mi += 1 }
            val h = heaps(q)
            h.add(((d, idBytes), id))
            if (h.size > shortlist) { h.remove(h.last); () } // drop worst
          }
          q += 1
        }
      }
      heaps.iterator.zipWithIndex.flatMap { case (h, q) =>
        h.iterator.map { case ((d, _), id) => Row(queries(q)._1, id, d) }
      }
    }
    val spark = index.corpus.sparkSession
    // a vector soft-assigned to two probed lists scores twice with the
    // SAME adist — dedup before ranking so it cannot hold two shortlist
    // slots (the IVF path's candidates-distinct, one stage later)
    val part = spark.createDataFrame(rows, schema).distinct()
    val ws = Window.partitionBy(col("q_id"))
      .orderBy(col("adist"), col("cand_id").cast("string"))
    val short = part
      .withColumn("__r", row_number().over(ws))
      .filter(col("__r") <= shortlist)
      .select(col("q_id").as("query_id"), col("cand_id"))
    val scored = short
      .join(broadcast(qFrame.select(col("q_id").as("query_id"),
        col("qv"), col("qnrm"))), Seq("query_id"))
      .join(index.corpus.select(col("vec_id").as("cand_id"),
        col("v").as("cv"), col("nrm").as("cnrm")), Seq("cand_id"))
      .select(col("query_id"), col("cand_id"),
        cosine(col("qv"), col("cv"), col("qnrm"), col("cnrm")).as("sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("cand_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("cand_id"), col("rank"), col("sim"))
  }

  /** LARGE-batch external-query IVF-PQ top-k — the fully distributed twin
    * of the external [[ivfPqTopK]] overload, for query frames past its
    * 1024-row driver-collect guard (batch inference: embed a whole crawl,
    * probe the daily index). The query frame is NEVER collected:
    *
    *  1. probe lists per query via the same [[topLists]] expression the
    *     IVF path uses (norm scales every centroid score equally, so
    *     probing with the un-normalized vector picks the same lists the
    *     collect path picks with the unit vector). The query side is
    *     read on its own partitioning, not fanned out as [[normed]]
    *     does: its only work is one score per centroid per query, and
    *     both of its consumers (the candidate join and the re-rank join)
    *     broadcast or re-shuffle it anyway, so a fan-out would add one
    *     shuffle of every query vector and one generated stage;
    *  2. candidates fall out of the (list_id) EQUI-JOIN against the coded
    *     lists — the banded shape, no cross join;
    *  3. ADC distance is a codegen'd native expression over the joined
    *     rows ([[graft.functions.AdcDistance]]; the ~128 KB codebooks
    *     ride the expression as a per-task codegen reference, and the
    *     subspace/component summation order matches the LUT path, so
    *     distances are bit-equal) — the whole probe scan stays inside
    *     WholeStageCodegen, no Row materialization or per-pair boxing;
    *  4. the shortlist is the EXACT top-`k·rerank` distinct candidates
    *     per query, ranked in one pass ([[distinctTopK]]): a partial
    *     group limit below its one exchange bounds what each task
    *     forwards per query, so no partition ever holds one query's full
    *     candidate set — a plain window would put
    *     ~(probes/lists)·|corpus| rows in one task;
    *  5. exact re-rank joins the query and corpus vectors back by key
    *     (shuffle joins — the query side is big by assumption), and one
    *     window ranks the survivors (no exchange of its own when the
    *     corpus side broadcasts and the rows stay clustered by query).
    *
    * `salts` is accepted for source compatibility and ignored since the
    * shortlist stopped salting (any value ≥ 1 gives the same rows).
    *
    * Every exchange carries hash-width rows (ids, list ids, one double);
    * results equal the collect-path overload row-for-row (spec-pinned).
    * Rows-only certifiable like every ANN path.
    *
    * Skew note: the candidate join's key space is only [[IvfLists]]
    * values, so the shuffle hashes into ≤ that many key groups — far
    * fewer than a large cluster's task slots. This is why the sessions
    * keep AQE on: OptimizeSkewedJoin splits oversized join partitions by
    * MAPPER RANGES (not by key), so a single hot list still fans out
    * across tasks. Without AQE, pre-split manually by salting the coded
    * lists and replicating the query-list rows per salt. */
  def ivfPqTopKJoin(
      index: IvfPqIndex, queries: DataFrame, id: String, vec: String,
      k: Int, rerank: Int = PqRerank, probes: Int = IvfProbes,
      salts: Int = 64): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    require(k >= 1, s"bad k: $k")
    require(rerank >= 1, s"bad rerank: $rerank")
    require(salts >= 1, s"bad salts: $salts")
    val cents = index.centroids
    require(probes >= 1 && probes <= cents.length,
      s"probes must be in [1, ${cents.length}]: $probes")
    val books = index.codebooks
    val shortlist = k * rerank
    val q = normedInPlace(queries, id, vec)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qnrm"))
    // The unit query vector is computed ONCE per query and shipped as a
    // packed little-endian float64 BINARY: binary flows through the join
    // as a primitive byte[] (an array<double> column would re-box all
    // `dim` elements on EVERY joined pair — measured 3× slower on the
    // 3M-pair sf0.1 shape). Both steps are native codegen'd expressions
    // (graft.functions.AdcDistance) — no Scala udf, no RDD drop-out.
    def packUnit(v: Column, nrm: Column): Column =
      ColumnBridge.column(graft.functions.PackUnitVector(
        ColumnBridge.expression(v), ColumnBridge.expression(nrm)))
    def adc(qu: Column, code: Column): Column =
      ColumnBridge.column(graft.functions.AdcDistance(
        ColumnBridge.expression(qu), ColumnBridge.expression(code), books))
    val queryLists = q
      .select(col("q_id"), packUnit(col("qv"), col("qnrm")).as("qu"),
        explode(topLists(cents, probes, col("qv"))).as("list_id"))
    // soft assignment can pair (query, vector) in ≤ IvfAssign lists with
    // the SAME adist: the shortlist ranks distinct pairs
    val short = distinctTopK(
      queryLists
        .join(index.codedLists, Seq("list_id"))
        .select(col("q_id").as("query_id"), col("vec_id").as("cand_id"),
          adc(col("qu"), col("code")).as("adist")),
      shortlist, Seq(col("adist"), col("cand_id").cast("string")),
      "query_id", "cand_id")
    val rescored = short
      .join(q.select(col("q_id").as("query_id"), col("qv"), col("qnrm")),
        Seq("query_id"))
      .join(index.corpus.select(col("vec_id").as("cand_id"),
        col("v").as("cv"), col("nrm").as("cnrm")), Seq("cand_id"))
      .select(col("query_id"), col("cand_id"),
        cosine(col("qv"), col("cv"), col("qnrm"), col("cnrm")).as("sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("cand_id"))
    rescored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("cand_id"), col("rank"), col("sim"))
  }

  /** Per-label centroid distance with an outlier verdict: each vector's
    * squared L2 distance to its label's centroid, flagged when it exceeds
    * `multiple ×` the label's mean — the standard embedding-quality screen
    * for mislabeled / off-manifold rows before a corpus is used for
    * retrieval or dedup.
    *
    * Everything is quantized so the result is hash-certifiable across
    * engines: centroid components come from an exact integer sum of
    * `round(x·1e6)` (order-free — partial-aggregation order can never
    * flip a bit, the same trick as [[graft.queries.stableSum]]), and the
    * squared distance is an exact integer sum of per-component
    * `round((x−c)²·1e9)` — per-component IEEE math is identical on both
    * engines and the cross-row/-component summation is integral. `d2q` is
    * the distance on that 1e-9 grid.
    *
    * Scale shape: one posexplode→hash-agg whose exchange carries only
    * (label, dim) partials (map-side combine collapses each partition to
    * labels×dim rows), centroids broadcast back (labels-sized), distance
    * as a narrow zip_with fold, and a labels-sized mean aggregate
    * broadcast for the verdict. The corpus itself is never shuffled. The
    * posexplode feeds on the cast *expression*, not a materialized
    * column, so InferFiltersFromGenerate cannot inline a per-row
    * re-evaluated copy of the array under the Generate (the measured
    * plan trap from the span/gram operators).
    *
    * @return vec_id, label, d2q, label_mean_d2q, is_outlier */
  def centroidOutliers(
      emb: DataFrame, id: String, vec: String, label: String,
      multiple: Double = 2.0): DataFrame = {
    require(multiple > 0, s"multiple must be > 0: $multiple")
    val asDouble = transform(col(vec), x => x.cast("double"))
    val comp = emb.select(col(label).as("label"),
      posexplode(asDouble).as(Seq("i", "xv")))
    val cent = comp.groupBy(col("label"), col("i"))
      .agg(sum(round(col("xv") * lit(1e6)).cast("long")).as("s"),
        count(lit(1)).as("n"))
      .select(col("label"), col("i"),
        (col("s").cast("double") / lit(1e6) / col("n")).as("c"))
    val carr = cent.groupBy("label")
      .agg(transform(array_sort(collect_list(struct(col("i"), col("c")))),
        p => p.getField("c")).as("cv"))
    val e = emb.select(col(id).as("vec_id"), col(label).as("label"),
      asDouble.as("v"))
    val d = e.join(broadcast(carr), "label")
      .select(col("vec_id"), col("label"),
        aggregate(
          zip_with(col("v"), col("cv"),
            (a, b) => round((a - b) * (a - b) * lit(1e9)).cast("long")),
          lit(0L), (acc, x) => acc + x).as("d2q"))
    val m = d.groupBy("label")
      .agg(sum(col("d2q")).as("sum_d2q"), count(lit(1)).as("n"))
    d.join(broadcast(m), "label")
      .select(col("vec_id"), col("label"), col("d2q"),
        (col("sum_d2q").cast("double") / col("n")).as("label_mean_d2q"),
        (col("d2q").cast("double") >
          lit(multiple) * (col("sum_d2q").cast("double") / col("n")))
          .as("is_outlier"))
  }

  // ───────────────────────── index persistence ─────────────────────────
  // Build-daily / query-per-batch only works if the daily build SURVIVES
  // the session: save(dir)/load(dir) for each prebuilt index. Frames land
  // as plain parquet on whatever FileSystem `dir` names (local/HDFS/s3a);
  // model arrays (centroids/codebooks) as small binary files the driver
  // writes through [[IndexIO]], so doubles round-trip bit-exactly and no
  // Spark job runs for them. A loaded index answers
  // every query bit-identically to the freshly built one (ties in all
  // top-k paths break on ids, so parquet row order is irrelevant) —
  // pinned in AnnPersistenceSpec.

  /** Delete a saved index's `appends/` subtree — every `*IndexSave`
    * calls this after the new frames commit: a rebuild's quantizers (or
    * a re-bucketed corpus) make stale append rows wrong, so they must
    * never union back in through the loads. */
  private def pruneAppends(
      spark: org.apache.spark.sql.SparkSession, dir: String): Unit =
    IndexIO.pruneAppendsAndRemnants(spark, dir)

  /** Persist a prebuilt [[LshIndex]] under `dir` (stale appends
    * pruned — see [[pruneAppends]]). */
  def lshIndexSave(index: LshIndex, dir: String): Unit = {
    val spark = index.corpus.sparkSession
    IndexIO.saveFrame(index.corpus, s"$dir/corpus")
    IndexIO.saveFrame(index.buckets, s"$dir/buckets")
    IndexIO.writeMeta(spark, dir, "lsh", Map("dim" -> index.dim.toLong))
    pruneAppends(spark, dir)
  }

  /** Reload an [[LshIndex]] saved by [[lshIndexSave]], committed on-disk
    * appends ([[lshIndexAppendSave]]) unioned in. The frames stay lazy
    * parquet scans — a long-lived query service should `localCheckpoint`
    * them if it probes many times per session. */
  def lshIndexLoad(spark: org.apache.spark.sql.SparkSession,
      dir: String): LshIndex = {
    val meta = IndexIO.readMeta(spark, dir, "lsh")
    LshIndex(
      frameWithAppends(spark, s"$dir/corpus", s"$dir/appends/corpus"),
      frameWithAppends(spark, s"$dir/buckets", s"$dir/appends/buckets"),
      meta("dim").toInt)
  }

  /** On-disk append for a SAVED LSH index — the [[ivfPqIndexAppendSave]]
    * lifecycle for the hyperplane index (the fixed-seed family is a pure
    * function of the persisted `dim`, so new rows hash into the same
    * buckets). Idempotent per `batchId`. */
  def lshIndexAppendSave(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      emb: DataFrame, id: String, vec: String, batchId: Long): Unit =
    writeAppend(dir, appendEncoders(spark, dir, "lsh"), emb, id, vec,
      batchId, prefix = "manual")

  /** Persist a prebuilt [[IvfIndex]] under `dir` (stale appends
    * pruned). */
  def ivfIndexSave(index: IvfIndex, dir: String): Unit = {
    val spark = index.corpus.sparkSession
    IndexIO.saveFrame(index.corpus, s"$dir/corpus")
    IndexIO.saveFrame(index.lists, s"$dir/lists")
    IndexIO.saveMatrix(spark, s"$dir/centroids", index.centroids)
    IndexIO.writeMeta(spark, dir, "ivf",
      Map("n_lists" -> index.centroids.length.toLong))
    pruneAppends(spark, dir)
  }

  /** Reload an [[IvfIndex]] saved by [[ivfIndexSave]], committed on-disk
    * appends ([[ivfIndexAppendSave]]) unioned in. */
  def ivfIndexLoad(spark: org.apache.spark.sql.SparkSession,
      dir: String): IvfIndex = {
    val meta = IndexIO.readMeta(spark, dir, "ivf")
    val cents = IndexIO.loadMatrix(spark, s"$dir/centroids")
    require(cents.length == meta("n_lists"),
      s"centroid table at $dir/centroids has ${cents.length} rows; " +
        s"sidecar says ${meta("n_lists")}")
    IvfIndex(
      frameWithAppends(spark, s"$dir/corpus", s"$dir/appends/corpus"),
      frameWithAppends(spark, s"$dir/lists", s"$dir/appends/lists"),
      cents)
  }

  /** On-disk append for a SAVED IVF index: new rows soft-assigned under
    * the persisted frozen centroids. Idempotent per `batchId`. */
  def ivfIndexAppendSave(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      emb: DataFrame, id: String, vec: String, batchId: Long): Unit =
    writeAppend(dir, appendEncoders(spark, dir, "ivf"), emb, id, vec,
      batchId, prefix = "manual")

  /** Persist a prebuilt [[PqIndex]] under `dir` (stale appends
    * pruned). */
  def pqIndexSave(index: PqIndex, dir: String): Unit = {
    val spark = index.corpus.sparkSession
    IndexIO.saveFrame(index.corpus, s"$dir/corpus")
    IndexIO.saveFrame(index.codes, s"$dir/codes")
    IndexIO.saveTensor(spark, s"$dir/codebooks", index.codebooks)
    IndexIO.writeMeta(spark, dir, "pq",
      Map("m" -> index.codebooks.length.toLong,
        "k" -> index.codebooks(0).length.toLong))
    pruneAppends(spark, dir)
  }

  /** Reload a [[PqIndex]] saved by [[pqIndexSave]], committed on-disk
    * appends ([[pqIndexAppendSave]]) unioned in. */
  def pqIndexLoad(spark: org.apache.spark.sql.SparkSession,
      dir: String): PqIndex = {
    val meta = IndexIO.readMeta(spark, dir, "pq")
    val books = IndexIO.loadTensor(spark, s"$dir/codebooks")
    require(books.length == meta("m") && books(0).length == meta("k"),
      s"codebook tensor at $dir/codebooks is ${books.length}×" +
        s"${books(0).length}; sidecar says ${meta("m")}×${meta("k")}")
    PqIndex(
      frameWithAppends(spark, s"$dir/corpus", s"$dir/appends/corpus"),
      frameWithAppends(spark, s"$dir/codes", s"$dir/appends/codes"),
      books)
  }

  /** On-disk append for a SAVED PQ index: new rows encoded under the
    * persisted frozen codebooks. Idempotent per `batchId`. */
  def pqIndexAppendSave(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      emb: DataFrame, id: String, vec: String, batchId: Long): Unit =
    writeAppend(dir, appendEncoders(spark, dir, "pq"), emb, id, vec,
      batchId, prefix = "manual")

  /** Persist a prebuilt [[IvfPqIndex]] under `dir`. Any on-disk appends
    * previously landed under `dir/appends` are DELETED after the new
    * frames commit: a rebuild's quantizers are new, so stale append rows
    * (encoded under the old codebooks) must never union back in through
    * [[ivfPqIndexLoad]]. To fold appends into the base WITHOUT
    * retraining, use [[ivfPqIndexFold]] — do NOT call
    * `ivfPqIndexSave(ivfPqIndexLoad(dir), dir)` yourself: the loaded
    * frames read lazily from the very files the save's overwrite deletes
    * first. */
  def ivfPqIndexSave(index: IvfPqIndex, dir: String): Unit = {
    val spark = index.corpus.sparkSession
    IndexIO.saveFrame(index.corpus, s"$dir/corpus")
    IndexIO.saveFrame(index.codedLists, s"$dir/coded_lists")
    IndexIO.saveMatrix(spark, s"$dir/centroids", index.centroids)
    IndexIO.saveTensor(spark, s"$dir/codebooks", index.codebooks)
    IndexIO.writeMeta(spark, dir, "ivf_pq",
      Map("n_lists" -> index.centroids.length.toLong,
        "m" -> index.codebooks.length.toLong,
        "k" -> index.codebooks(0).length.toLong))
    pruneAppends(spark, dir)
  }

  /** Fold on-disk appends into the base frames (same quantizers, no
    * retrain): the safe form of the save-after-load maintenance step —
    * do NOT call `save(load(dir), dir)` yourself: the loaded frames read
    * lazily from the very files the save's overwrite deletes first.
    *
    * The crash-atomic protocol (aside-rename first, fresh `*_folding_eN`
    * scratch, park-and-swap publish, sidecar `fold_epoch` commit,
    * [[foldRecover]] rollback) is ONE generic implementation shared by
    * every index family — [[graft.operators.IndexIO.indexFold]] carries
    * the full protocol scaladoc; `IndexIO.FramesOf` names each family's
    * frames. Exists per family so the continual-ingest story
    * (`*AppendSink`/`*IndexAppendSave` hourly + fold daily) composes
    * with all five index layouts, not just IVF-PQ. */
  def ivfPqIndexFold(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit = IndexIO.indexFold(spark, dir, "ivf_pq")

  /** [[ivfPqIndexFold]] for a saved LSH index (frames: corpus, buckets). */
  def lshIndexFold(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit = IndexIO.indexFold(spark, dir, "lsh")

  /** [[ivfPqIndexFold]] for a saved IVF index (frames: corpus, lists). */
  def ivfIndexFold(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit = IndexIO.indexFold(spark, dir, "ivf")

  /** [[ivfPqIndexFold]] for a saved PQ index (frames: corpus, codes). */
  def pqIndexFold(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit = IndexIO.indexFold(spark, dir, "pq")

  /** [[ivfPqIndexFold]] for a saved SQ8 index (frames: corpus, codes). */
  def sq8IndexFold(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit = IndexIO.indexFold(spark, dir, "sq8")

  /** Settle a crashed `*IndexFold` of ANY family — kind-agnostic (the
    * sidecar names the frame set). Idempotent; safe to run against a
    * healthy index, and safe to re-run if the recovery itself crashes
    * midway. See [[graft.operators.IndexIO.indexFoldRecover]]. */
  def foldRecover(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit = IndexIO.indexFoldRecover(spark, dir)

  /** Reload an [[IvfPqIndex]] saved by [[ivfPqIndexSave]] — the
    * append-hourly lifecycle composes: `ivfPqIndexAppend` on a loaded
    * index encodes new rows under the frozen persisted quantizers, and
    * ON-DISK appends landed by [[ivfPqIndexAppendSave]] /
    * [[ivfPqAppendSink]] are unioned in transparently. */
  def ivfPqIndexLoad(spark: org.apache.spark.sql.SparkSession,
      dir: String): IvfPqIndex = {
    val meta = IndexIO.readMeta(spark, dir, "ivf_pq")
    val cents = IndexIO.loadMatrix(spark, s"$dir/centroids")
    val books = IndexIO.loadTensor(spark, s"$dir/codebooks")
    require(cents.length == meta("n_lists"),
      s"centroids at $dir: ${cents.length} vs sidecar ${meta("n_lists")}")
    require(books.length == meta("m") && books(0).length == meta("k"),
      s"codebooks at $dir: ${books.length}×${books(0).length} vs sidecar " +
        s"${meta("m")}×${meta("k")}")
    IvfPqIndex(
      frameWithAppends(spark, s"$dir/corpus", s"$dir/appends/corpus"),
      frameWithAppends(spark, s"$dir/coded_lists",
        s"$dir/appends/coded_lists"),
      cents, books)
  }

  /** Base frame plus any COMMITTED on-disk append partitions (batch dirs
    * carrying a `_SUCCESS` marker — a half-written directory left by a
    * crashed, never-replayed append is skipped instead of failing the
    * whole load), base columns only. */
  private def frameWithAppends(
      spark: org.apache.spark.sql.SparkSession, baseDir: String,
      appendDir: String): DataFrame =
    IndexIO.frameWithAppends(spark, baseDir, appendDir)

  /** Append one batch of new vectors to a SAVED IVF-PQ index directory
    * under its persisted frozen quantizers: the narrow encode of
    * [[ivfPqIndexAppend]], landed in idempotent
    * `appends/{corpus,coded_lists}/manual=NNNNNN` partitions — a
    * replayed `batchId` REWRITES its own directories instead of
    * duplicating rows. Caller-supplied ids live in the `manual=`
    * namespace, DISJOINT from the `batch=` namespace the streaming sink
    * derives from its checkpoint, so a batch caller reusing a low id
    * (say 0) can never overwrite a streamed batch that happened to get
    * the same number. [[ivfPqIndexLoad]] unions both namespaces in
    * transparently; fold them into a fresh base with [[ivfPqIndexFold]]
    * at the daily rebuild. */
  def ivfPqIndexAppendSave(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      emb: DataFrame, id: String, vec: String, batchId: Long): Unit =
    writeAppend(dir, appendEncoders(spark, dir, "ivf_pq"), emb, id, vec,
      batchId, prefix = "manual")

  /** Persist a prebuilt [[IvfSq8Index]] under `dir` (stale appends
    * pruned — rebuild bounds/centroids are new). Same layout as
    * [[ivfPqIndexSave]] with the 2×dim quantizer tensor in place of
    * codebooks. */
  def ivfSq8IndexSave(index: IvfSq8Index, dir: String): Unit = {
    val spark = index.corpus.sparkSession
    IndexIO.saveFrame(index.corpus, s"$dir/corpus")
    IndexIO.saveFrame(index.codedLists, s"$dir/coded_lists")
    IndexIO.saveMatrix(spark, s"$dir/centroids", index.centroids)
    IndexIO.saveTensor(spark, s"$dir/quantizer",
      Array(Array(index.quantizer.mins, index.quantizer.spans)))
    IndexIO.writeMeta(spark, dir, "ivf_sq8",
      Map("n_lists" -> index.centroids.length.toLong,
        "dim" -> index.quantizer.mins.length.toLong))
    pruneAppends(spark, dir)
  }

  /** Reload an [[IvfSq8Index]] saved by [[ivfSq8IndexSave]], committed
    * on-disk appends ([[ivfSq8IndexAppendSave]]) unioned in. */
  def ivfSq8IndexLoad(spark: org.apache.spark.sql.SparkSession,
      dir: String): IvfSq8Index = {
    val meta = IndexIO.readMeta(spark, dir, "ivf_sq8")
    val cents = IndexIO.loadMatrix(spark, s"$dir/centroids")
    val t = IndexIO.loadTensor(spark, s"$dir/quantizer")
    require(cents.length == meta("n_lists"),
      s"centroids at $dir: ${cents.length} vs sidecar ${meta("n_lists")}")
    require(t.length == 1 && t(0).length == 2
        && t(0)(0).length == meta("dim") && t(0)(1).length == meta("dim"),
      s"quantizer tensor at $dir/quantizer does not carry 2×dim=" +
        s"${meta("dim")} rows")
    IvfSq8Index(
      frameWithAppends(spark, s"$dir/corpus", s"$dir/appends/corpus"),
      frameWithAppends(spark, s"$dir/coded_lists",
        s"$dir/appends/coded_lists"),
      cents, Sq8Quantizer(t(0)(0), t(0)(1)))
  }

  /** On-disk append for a SAVED IVF-SQ8 index: new rows soft-assigned
    * and encoded under the persisted frozen centroids + bounds.
    * Idempotent per `batchId` (`manual=` namespace). */
  def ivfSq8IndexAppendSave(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      emb: DataFrame, id: String, vec: String, batchId: Long): Unit =
    writeAppend(dir, appendEncoders(spark, dir, "ivf_sq8"), emb, id, vec,
      batchId, prefix = "manual")

  /** [[ivfPqIndexFold]] for a saved IVF-SQ8 index (frames: corpus,
    * coded_lists). */
  def ivfSq8IndexFold(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit = IndexIO.indexFold(spark, dir, "ivf_sq8")

  /** The operational RECALL PROBE — the rebuild trigger of the
    * build-daily / append-hourly lifecycle the `*IndexAppend*` scaladocs
    * reference: mean per-query recall of an approximate top-k frame
    * against the exact one (both `(query_id, cand_id, …)`-shaped, e.g.
    * `ivfSq8TopK(index, pred, k)` vs `bruteForceTopK(n.filter(pred), n,
    * k)` on a small deterministic query sample). Runs distributed — an
    * equi-join and two aggregates; only the final scalar reaches the
    * driver. Schedule it against a saved index as quantizer-drift
    * monitoring: when the probe degrades below the family's RecallSpec
    * floor, rebuild (and fold) instead of appending further. Queries
    * with no approximate answer at all count as zero recall — a
    * silently-empty index reads as broken, not perfect. */
  def recallAtK(approx: DataFrame, exact: DataFrame): Double = {
    val hits = exact.select(col("query_id"), col("cand_id"))
      .join(approx.select(col("query_id"), col("cand_id")),
        Seq("query_id", "cand_id"))
      .groupBy("query_id").agg(count(lit(1)).as("hits"))
    val truth = exact.groupBy("query_id").agg(count(lit(1)).as("t"))
    val row = truth.join(hits, Seq("query_id"), "left")
      .agg(avg(coalesce(col("hits"), lit(0L)).cast("double")
        / col("t").cast("double")))
      .head()
    if (row.isNullAt(0)) 0.0 else row.getDouble(0) // empty probe set
  }

  /** The frozen-artifact encoders of one SAVED index: frame name →
    * (normed batch → rows), with the family's model artifacts
    * (centroids / codebooks / bounds) loaded ONCE driver-side and
    * captured — the per-batch work is then pure narrow Column/encode
    * maps. One entry per [[IndexIO.FramesOf]] frame; validates the
    * sidecar kind and the artifact shapes exactly like the load path.
    * This is what makes the manual `*IndexAppendSave`s and the generic
    * [[indexAppendSink]] ONE implementation per family instead of two
    * that can drift. */
  private def appendEncoders(
      spark: org.apache.spark.sql.SparkSession, dir: String, kind: String)
      : Seq[(String, DataFrame => DataFrame)] = kind match {
    case "lsh" =>
      val meta = IndexIO.readMeta(spark, dir, "lsh")
      Seq("corpus" -> identity[DataFrame] _,
        "buckets" -> ((n2: DataFrame) =>
          lshBucketRows(n2, meta("dim").toInt)))
    case "ivf" =>
      IndexIO.readMeta(spark, dir, "ivf")
      val cents = IndexIO.loadMatrix(spark, s"$dir/centroids")
      Seq("corpus" -> identity[DataFrame] _,
        "lists" -> ((n2: DataFrame) => ivfListRows(n2, cents)))
    case "pq" =>
      IndexIO.readMeta(spark, dir, "pq")
      val books = IndexIO.loadTensor(spark, s"$dir/codebooks")
      Seq("corpus" -> identity[DataFrame] _,
        "codes" -> ((n2: DataFrame) => pqEncode(n2, books)))
    case "sq8" =>
      val meta = IndexIO.readMeta(spark, dir, "sq8")
      val t = IndexIO.loadTensor(spark, s"$dir/quantizer")
      require(t.length == 1 && t(0).length == 2
          && t(0)(0).length == meta("dim")
          && t(0)(1).length == meta("dim"),
        s"quantizer tensor at $dir/quantizer does not carry 2×dim=" +
          s"${meta("dim")} rows")
      val q = Sq8Quantizer(t(0)(0), t(0)(1))
      Seq("corpus" -> identity[DataFrame] _,
        "codes" -> ((n2: DataFrame) =>
          n2.select(col("vec_id"), sq8CodeCol(unitCol, q).as("code"))))
    case "ivf_pq" =>
      IndexIO.readMeta(spark, dir, "ivf_pq")
      val cents = IndexIO.loadMatrix(spark, s"$dir/centroids")
      val books = IndexIO.loadTensor(spark, s"$dir/codebooks")
      Seq("corpus" -> identity[DataFrame] _,
        "coded_lists" -> ((n2: DataFrame) =>
          codedListRows(n2, cents, books)))
    case "ivf_sq8" =>
      val meta = IndexIO.readMeta(spark, dir, "ivf_sq8")
      val cents = IndexIO.loadMatrix(spark, s"$dir/centroids")
      val t = IndexIO.loadTensor(spark, s"$dir/quantizer")
      require(t.length == 1 && t(0).length == 2
          && t(0)(0).length == meta("dim")
          && t(0)(1).length == meta("dim"),
        s"quantizer tensor at $dir/quantizer does not carry 2×dim=" +
          s"${meta("dim")} rows")
      val q = Sq8Quantizer(t(0)(0), t(0)(1))
      Seq("corpus" -> identity[DataFrame] _,
        "coded_lists" -> ((n2: DataFrame) => sq8CodedListRows(n2, cents, q)))
    case other => throw new IllegalArgumentException(
      s"unknown index kind for appends: $other")
  }

  /** Land one append batch: each frame's rows under
    * `dir/appends/<frame>/<prefix>=<batchId>` — overwrite per partition,
    * so a replayed batch id rewrites itself (idempotent). */
  private def writeAppend(
      dir: String, encoders: Seq[(String, DataFrame => DataFrame)],
      emb: DataFrame, id: String, vec: String, batchId: Long,
      prefix: String): Unit = {
    val n2 = normed(emb, id, vec).localCheckpoint()
    encoders.foreach { case (frame, enc) =>
      enc(n2).write.mode("overwrite")
        .parquet(f"$dir/appends/$frame%s/$prefix%s=$batchId%06d")
    }
  }

  /** Streaming index maintenance for EVERY saved index family — the
    * missing half of the build-daily / append-hourly lifecycle: the
    * sidecar names the family ([[IndexIO.readKind]]), its frozen
    * quantizers load once driver-side ([[appendEncoders]]), and every
    * micro-batch of newly embedded rows lands as an idempotent on-disk
    * append, so a reader's next `*IndexLoad` sees them with no rebuild.
    * Checkpoint replays rewrite their own batch partitions — exactly
    * once. Quantizers drift as the distribution shifts: rebuild (or
    * `*IndexFold` + rebuild) when recall probes degrade. */
  def indexAppendSink(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      stream: DataFrame, id: String, vec: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val kind = IndexIO.readKind(spark, dir)
    // batchId idempotence is scoped to ONE checkpoint lineage: a fresh
    // checkpoint restarts batch ids at 0 and would OVERWRITE prior
    // append partitions — refuse the foot-gun up front
    IndexIO.requireSameLineage(spark, s"$dir/appends/corpus", checkpoint,
      what = "index appends")
    val encoders = appendEncoders(spark, dir, kind)
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], batchId: Long) =>
        writeAppend(dir, encoders, batch.toDF(), id, vec, batchId,
          prefix = "batch")
      }
      .start()
  }

  /** [[indexAppendSink]] pinned to an IVF-PQ dir (kind-validated up
    * front — the original single-family entry point, kept so existing
    * callers read as before). */
  def ivfPqAppendSink(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      stream: DataFrame, id: String, vec: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    IndexIO.readMeta(spark, dir, "ivf_pq")
    indexAppendSink(spark, dir, stream, id, vec, checkpoint)
  }
}
