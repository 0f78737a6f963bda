package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.fhir.{BundleReader, FhirSchemaModel}
import graft.operators.{Dedup, TextAnalysis}

/** Structured Streaming surfaces. The reference's "real-time" ADT feed is
  * batch directory re-reads (01_dbignite_sample.py:401-427 — no streaming
  * code anywhere); per SURVEY.md §2.10 the engine keeps the same declared
  * schemas and projections streaming-capable by construction: the batch
  * transforms compose unchanged onto `readStream` sources.
  */
object Streams {

  /** events.parquet schema for the CURRENT driver generation
    * (`ts: timestamp[us]`, surfaced as TIMESTAMP_NTZ). Used only as the
    * fallback when the stream directory is empty at start; otherwise
    * [[readEventStream]] adopts the batch-read schema of the directory, so
    * legacy TIMESTAMP(NANOS) data (nanos-as-long) streams too. */
  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampNTZType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-source stream over a directory of events parquet. The declared
    * schema follows whatever the directory's files actually store (batch
    * schema inference on the same session confs — so ns data under
    * nanosAsLong arrives as LongType, µs data as TIMESTAMP_NTZ), and `ts`
    * is normalized to a micros TimestampType by the same one-place type
    * dispatch the batch queries use (graft.Tables.normalizeTs). */
  def readEventStream(spark: SparkSession, dir: String): DataFrame = {
    // Schema-inference failure on an EMPTY/absent directory (the normal
    // cold start of a new ingest) falls back to the current-generation
    // µs schema — a file-source stream cannot adapt its declared schema
    // after start anyway, so a cold-started stream expects current-format
    // files. Any OTHER failure (corrupt footer, permissions) rethrows:
    // swallowing it into the fallback would mask a real error until the
    // first micro-batch.
    val schema =
      try spark.read.parquet(dir).schema
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if e.getCondition == "UNABLE_TO_INFER_SCHEMA" ||
              e.getCondition == "PATH_NOT_FOUND" => eventsSchema
      }
    val raw = spark.readStream.schema(schema).parquet(dir)
    raw.withColumn("ts",
      graft.Tables.normalizeTsCol(schema("ts").dataType, "ts"))
  }

  /** Watermarked hourly windowed aggregate — the streaming twin of the
    * batch q_e2_hourly_window (same grouping semantics, late data bounded
    * by the watermark instead of assumed complete). The sum uses the same
    * fixed-point accumulation as the batch query's stableSum
    * (queries/package.scala): per-row round at 1e-6, exact integer partial
    * sums, divide once — so stream and batch agree to the last bit
    * regardless of partial-aggregation order. */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        (sum(round(col("value") * lit(1e6)).cast("long")) / lit(1e6))
          .as("sum_value"))
      .select(
        col("window.start").cast("string").as("hour_bucket"),
        col("event_type"), col("cnt"), col("sum_value"))

  /** Watermarked STREAM-STREAM interval join — last-touch attribution:
    * each purchase pairs with the same user's views in the
    * `windowSec`-second lookback. Both inputs carry event-time
    * watermarks and the join condition bounds `v_ts` to a closed
    * interval ending at `p_ts`, which is exactly what Spark's
    * stream-stream join needs to expire state: a view older than
    * (watermark − windowSec) can never match again and its state row is
    * dropped. Inner join → output appears as soon as both sides arrive.
    *
    * Returns every (purchase, qualifying view) pair; downstream pick
    * first/last touch with a per-purchase aggregate. Batch equality is
    * pinned in StreamingSpec (same frames, same join, readStream vs
    * read). */
  def attributionJoin(
      views: DataFrame, purchases: DataFrame,
      windowSec: Long, delay: String = "1 hour"): DataFrame = {
    require(windowSec > 0, s"windowSec must be positive: $windowSec")
    val v = views
      .withWatermark("ts", delay)
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("event_id").as("view_id"))
    val p = purchases
      .withWatermark("ts", delay)
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
    p.join(v,
      col("p_user") === col("v_user") &&
        col("v_ts") <= col("p_ts") &&
        col("v_ts") >= col("p_ts") - expr(s"interval $windowSec seconds"))
      .select(col("p_user").as("user_id"), col("purchase_id"),
        col("view_id"), col("p_ts"), col("v_ts"))
  }

  final case class SessionEvent(
      user_id: Long, event_id: Long, ts: java.sql.Timestamp, value: Double)
  final case class SessionState(
      lastTs: Long, sessionId: Long, n: Long, start: Long, sumMicros: Long)
  final case class SessionOut(
      user_id: Long, session_id: Long, n_events: Long,
      start_sec: Long, end_sec: Long, sum_value: Double)

  /** Exact twin of the batch stableSum's per-row step
    * (queries/package.scala): Spark's `round(x, 0)` on a double is
    * BigDecimal(Double.toString(x)).setScale(0, HALF_UP) — replicated here
    * so the streaming state accumulates the identical integer micros the
    * batch aggregate sums, and batch↔stream equality holds to the bit.
    *
    * Equivalence bound: the bit-for-bit claim holds while |v|·1e6 stays
    * inside a double's exact-integer range (2^53), i.e. |v| ≲ 9e9 — above
    * that Spark's round passes through a double intermediate before the
    * long cast while this path stays exact in BigDecimal, so the last
    * micro can differ. (stableSum's scaladoc documents the analogous 2^63
    * accumulator headroom.) */
  private def fixedPointMicros(v: Double): Long =
    BigDecimal(v * 1e6).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong

  /** Stateful gap-based sessionization via flatMapGroupsWithState: emits a
    * session whenever a >30min gap closes it (append mode); the per-user
    * open session rides in group state across micro-batches. The value sum
    * is accumulated as fixed-point micros (exact integer adds — associative,
    * so micro-batch boundaries can't flip a bit) and divided once at output,
    * matching the batch q_e4_sessionize's stableSum.
    *
    * With `watermarkDelay = None` (spec/demo mode) state never expires:
    * semantics match the batch query for in-order, bounded input — including
    * the cumulative per-user session NUMBERING (1, 2, 3…) the batch
    * q_e4_sessionize oracle emits — and the trailing open session per user
    * is retained forever. Pass a delay (e.g. `Some("30 minutes")`) for
    * production: a watermark bounds the state store via EventTimeTimeout —
    * events older than the watermark are dropped, and an open session whose
    * close time (last event + gap) falls behind the watermark is flushed as
    * final without needing new input for that user.
    *
    * In watermark mode `session_id` is the session's `start_sec`, NOT the
    * cumulative counter: a timeout flush removes the per-user state (that
    * is the whole point of bounding the store), so a counter would restart
    * at 1 and two distinct sessions could both emit as (user, 1). Start
    * seconds are strictly increasing per user (each session starts > gap
    * after the previous one's last event), so (user_id, start_sec) is
    * collision-free with zero retained state. */
  def sessionize(
      events: DataFrame,
      watermarkDelay: Option[String] = None,
      gapSec: Long = 1800): org.apache.spark.sql.Dataset[SessionOut] = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val timeout = watermarkDelay
      .map(_ => GroupStateTimeout.EventTimeTimeout)
      .getOrElse(GroupStateTimeout.NoTimeout)
    val src = watermarkDelay.fold(events)(d => events.withWatermark("ts", d))
    src
      // keep `ts` as the raw timestamp column: the event-time/watermark tag
      // must survive into the stateful operator for late-row filtering and
      // EventTimeTimeout to apply
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .as[SessionEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append, timeout)(
        (userId: Long, it: Iterator[SessionEvent],
         state: org.apache.spark.sql.streaming.GroupState[SessionState]) => {
          val boundedState = timeout == GroupStateTimeout.EventTimeTimeout
          def emit(st: SessionState): SessionOut =
            SessionOut(userId,
              if (boundedState) st.start else st.sessionId,
              st.n, st.start, st.lastTs, st.sumMicros / 1e6)
          if (state.hasTimedOut) {
            // watermark passed the open session's close time: flush final
            val out = state.getOption.map(emit).iterator
            state.remove()
            out
          } else {
            val sorted = it.toSeq
              .map(e => (e.ts.getTime / 1000, e.event_id, e.value))
              .sortBy { case (ts, id, _) => (ts, id) }
            var st = state.getOption.orNull
            val out = Seq.newBuilder[SessionOut]
            sorted.foreach { case (tsSec, _, value) =>
              if (st == null) {
                st = SessionState(tsSec, 1L, 1L, tsSec,
                  fixedPointMicros(value))
              } else if (tsSec - st.lastTs > gapSec) {
                out += emit(st)
                st = SessionState(tsSec, st.sessionId + 1, 1L, tsSec,
                  fixedPointMicros(value))
              } else {
                // math.max: a late cross-batch event must not regress the
                // session tail (monotone state)
                st = SessionState(math.max(st.lastTs, tsSec), st.sessionId,
                  st.n + 1, st.start, st.sumMicros + fixedPointMicros(value))
              }
            }
            if (st != null) {
              state.update(st)
              if (timeout == GroupStateTimeout.EventTimeTimeout) {
                // fire once the watermark passes the gap after the last
                // event — i.e. exactly when the session is provably closed
                state.setTimeoutTimestamp((st.lastTs + gapSec) * 1000L)
              }
            }
            out.result().iterator
          }
        })
  }

  /** Streaming exact dedup: keep the FIRST ARRIVAL of each content digest
    * (same md5-of-lowercased-text key as the batch Dedup.exactGroups).
    * Representative choice necessarily differs from batch: exactGroups
    * keeps min(doc_id) per digest, while a stream cannot know a smaller id
    * is coming — the DIGEST SET matches batch exactly (what the spec
    * asserts), the surviving row per digest is arrival-order dependent.
    * With `watermark = Some((tsCol, delay))` the digest state is bounded
    * via `dropDuplicatesWithinWatermark`: duplicates separated by more
    * than the delay may both survive, the standard state-size/completeness
    * trade. With None the state grows with distinct digests — spec/demo
    * mode only. */
  def dedupStream(
      docs: DataFrame, text: String,
      watermark: Option[(String, String)] = None): DataFrame = {
    val keyed = watermark.fold(docs) { case (c, d) => docs.withWatermark(c, d) }
      .withColumn("__h", md5(lower(col(text)).cast("binary")))
    val deduped = watermark match {
      case Some(_) => keyed.dropDuplicatesWithinWatermark("__h")
      case None => keyed.dropDuplicates("__h")
    }
    deduped.drop("__h") // internal digest key, not part of the output contract
  }

  /** Streaming EXACT dedup against a STATIC base corpus: incoming
    * documents whose content digest already exists in the training set are
    * dropped before they land — the exact-match twin of
    * [[nearDupAgainstBase]] (don't re-ingest what you already have). The
    * base digests are one hash-agg, `localCheckpoint`ed once; each
    * micro-batch is a stateless stream-static LEFT ANTI equi-join on the
    * 16-byte digest — no state store, nothing retained across batches.
    * Within-stream duplicates are [[dedupStream]]'s job; compose the two
    * for full continual-ingest hygiene.
    *
    * @return the incoming stream minus rows whose digest exists in base */
  def exactAgainstBase(
      incoming: DataFrame, base: DataFrame, text: String): DataFrame = {
    val baseDigests = base
      .select(md5(lower(col(text)).cast("binary")).as("__h"))
      .distinct()
      .localCheckpoint()
    incoming
      .withColumn("__h", md5(lower(col(text)).cast("binary")))
      .join(baseDigests, Seq("__h"), "left_anti")
      .drop("__h")
  }

  /** Streaming incremental NEAR-dup: every incoming document checked
    * against a STATIC base corpus — the streaming twin of the batch
    * `Dedup.minHashLshPairsAcross` continual-pretraining shape (new crawl
    * batches deduplicated against the existing training set as they
    * arrive, base×base never paired).
    *
    * Mechanics: the base corpus is indexed ONCE — its (band, bucket) LSH
    * rows and shingle sets are `localCheckpoint`ed so micro-batches join
    * against materialized blocks instead of re-aggregating the corpus per
    * trigger. The incoming side needs NO aggregation at all: each
    * document's shingle set arrives whole on its row, so the 128-hash
    * signature comes from the row-level [[graft.functions.MinHashRow]]
    * expression (bit-identical constants/arithmetic to the batch sketch
    * aggregate — stream candidates equal batch candidates exactly), bands
    * explode map-side, and candidates fall out of a stream-static
    * equi-join on (band, bh). Exact Jaccard verification reuses the same
    * `Dedup.jaccardOfSets` arithmetic as every batch pair path.
    *
    * State: `dropDuplicates` on the candidate pair collapses multi-band
    * collisions. With `watermark = Some((tsCol, delay))` the pair state is
    * BOUNDED via `dropDuplicatesWithinWatermark` — the event-time tag is
    * carried through the band explode and the stream-static joins, and a
    * candidate pair re-surfacing later than the delay may emit again (the
    * standard state-size/completeness trade, as in [[dedupStream]]). With
    * None the pair-key state grows with distinct emitted candidates —
    * spec/demo mode only.
    *
    * @return streaming frame of (base_id, new_id, jaccard ≥ threshold) */
  def nearDupAgainstBase(
      incoming: DataFrame, base: DataFrame, id: String, text: String,
      threshold: Double,
      watermark: Option[(String, String)] = None): DataFrame =
    nearDupAgainstBase(incoming, nearDupIndexBuild(base, id, text),
      id, text, threshold, watermark)

  /** The prebuilt base-corpus artifact [[nearDupAgainstBase]] probes: the
    * training set's (band, bh) LSH rows and its shingle sets. Building it
    * is the only pass over the base corpus; a screen that restarts daily
    * should [[nearDupIndexSave]] it once and [[nearDupIndexLoad]] at each
    * start instead of re-aggregating 100 TB of base text per restart. */
  final case class NearDupBaseIndex(buckets: DataFrame, sets: DataFrame)

  /** One-pass build of the [[NearDupBaseIndex]] (both frames
    * `localCheckpoint`ed — micro-batches join materialized blocks). */
  def nearDupIndexBuild(
      base: DataFrame, id: String, text: String): NearDupBaseIndex = {
    graft.functions.GraftFunctions.register(base.sparkSession)
    NearDupBaseIndex(
      Dedup.bandedBuckets(base, id, text)
        .withColumnRenamed("doc_id", "base_id")
        .localCheckpoint(),
      base.select(col(id).as("base_id"),
          Dedup.wordTrigrams(col(text)).as("__tgb"))
        .localCheckpoint())
  }

  /** Persist a [[NearDupBaseIndex]] under `dir` (parquet frames + sidecar,
    * same layout family as the ANN indexes — see
    * [[graft.operators.IndexIO]]). */
  def nearDupIndexSave(index: NearDupBaseIndex, dir: String): Unit = {
    graft.operators.IndexIO.saveFrame(index.buckets, s"$dir/buckets")
    graft.operators.IndexIO.saveFrame(index.sets, s"$dir/sets")
    graft.operators.IndexIO.writeMeta(
      index.buckets.sparkSession, dir, "near_dup_base", Map.empty)
  }

  /** Reload a [[NearDupBaseIndex]] saved by [[nearDupIndexSave]]. The
    * frames come back as lazy parquet scans; they are NOT re-checkpointed
    * here (the caller owns that trade — a screen probing many micro-batches
    * should `localCheckpoint` them once at startup). */
  def nearDupIndexLoad(
      spark: SparkSession, dir: String): NearDupBaseIndex = {
    graft.operators.IndexIO.readMeta(spark, dir, "near_dup_base")
    NearDupBaseIndex(
      graft.operators.IndexIO.loadFrame(spark, s"$dir/buckets"),
      graft.operators.IndexIO.loadFrame(spark, s"$dir/sets"))
  }

  /** [[nearDupAgainstBase]] against a PREBUILT (possibly
    * [[nearDupIndexLoad]]ed) base index — pure query-side work: no pass
    * over the base corpus at all. */
  def nearDupAgainstBase(
      incoming: DataFrame, index: NearDupBaseIndex, id: String,
      text: String, threshold: Double,
      watermark: Option[(String, String)]): DataFrame = {
    graft.functions.GraftFunctions.register(incoming.sparkSession)
    val baseIdx = index.buckets
    val baseSets = index.sets
    val src = watermark.fold(incoming) { case (c, d) =>
      incoming.withWatermark(c, d)
    }
    // the event-time column must survive every projection below, or the
    // within-watermark dedup loses its tag and the query fails analysis
    val tsCols = watermark.map { case (c, _) => col(c) }.toSeq
    val newBuckets = src
      .select(Seq(col(id).as("new_id"),
        Dedup.wordTrigrams(col(text)).as("__tga")) ++ tsCols: _*)
      .withColumn("__sig", Dedup.shingleSignature(col("__tga")))
      .select(Seq(col("new_id"), col("__tga"),
        explode(Dedup.bandStructs(col("__sig"))).as("bk")) ++ tsCols: _*)
      .select(Seq(col("new_id"), col("__tga"),
        col("bk.band").as("band"), col("bk.bh").as("bh")) ++ tsCols: _*)
    val cand = newBuckets
      .join(baseIdx, Seq("band", "bh")) // stream-static equi-join
      .filter(col("base_id") =!= col("new_id"))
      .select(Seq(col("base_id"), col("new_id"), col("__tga")) ++ tsCols: _*)
    val deduped = watermark match {
      case Some(_) => cand.dropDuplicatesWithinWatermark("base_id", "new_id")
      case None => cand.dropDuplicates("base_id", "new_id")
    }
    deduped
      .join(baseSets, Seq("base_id")) // stream-static: shingle sets once
      .select(col("base_id"), col("new_id"),
        Dedup.jaccardOfSets(col("__tga"), col("__tgb")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Streaming MEDIA near-dup against a static fingerprint index: every
    * incoming media payload (image/audio/video) fingerprinted as it
    * arrives — the perceptual hashes are pure narrow maps, so
    * [[graft.operators.Multimodal.mediaFingerprints]] runs on readStream
    * input unchanged — then banded against a base corpus's fingerprints
    * with ADAPTIVE banding ([[graft.operators.Dedup.bandsFor]]): the band
    * count tracks `maxHamming` by the pigeonhole bound (exhaustive for
    * the threshold), so a hamming-0 exact-twin screen degenerates to one
    * full 64-bit equality band. The multimodal twin of
    * [[nearDupAgainstBase]]: a crawl's images/audio/video checked against
    * the training set's perceptual index before ingest, kind-partitioned
    * so an image never pairs with an audio clip.
    *
    * IMPORTANT: `base` fingerprints must be computed with the SAME
    * opt-in hash variants (`spectralAudio`/`phashImages`/`temporalVideo`)
    * passed here — a mismatch joins e.g. dHash values against pHash
    * values and silently returns no pairs. Rebuild the base index with
    * matching flags when switching variants.
    *
    * State: `dropDuplicates` on the pair collapses multi-band collisions.
    * With `watermark = Some((tsCol, delay))` the pair state is BOUNDED via
    * `dropDuplicatesWithinWatermark` — mirroring [[nearDupAgainstBase]]: a
    * continual media-ingest screen is precisely a long-running query, and
    * unbounded pair state would grow with every distinct emitted pair. The
    * event-time column rides through the codec map as a
    * [[graft.operators.Multimodal.mediaFingerprints]] `carry` column (the
    * codec is a Row map, so watermark metadata can't propagate through it —
    * the watermark is declared on the fingerprint frame instead, before
    * the first stateful operator, which is all Structured Streaming
    * requires). A pair re-surfacing later than the delay may emit again —
    * the standard state-size/completeness trade. With None the pair-key
    * state grows with distinct emitted candidates — spec/demo mode only.
    *
    * @param base (media_id, kind, fp) — a batch
    *             `Multimodal.mediaFingerprints` result
    * @return streaming frame of (base_id, new_id, kind, hamming ≤ max) */
  def mediaNearDupAgainstBase(
      incoming: DataFrame, base: DataFrame,
      maxHamming: Int = 7,
      watermark: Option[(String, String)] = None,
      spectralAudio: Boolean = false,
      phashImages: Boolean = false,
      temporalVideo: Boolean = false): DataFrame = {
    // widest exhaustive banding for the threshold (hamming-0 exact-twin
    // screens degenerate to a full 64-bit equality join — see
    // Dedup.bandsFor)
    val nb = Dedup.bandsFor(maxHamming)
    val baseIdx = base
      .select(col("media_id").as("base_id"), col("kind"),
        col("fp").as("base_fp"),
        explode(Dedup.hammingBands(col("fp"), nb)).as("bk"))
      .select(col("base_id"), col("kind"), col("base_fp"),
        col("bk.band").as("band"), col("bk.bv").as("bv"))
      .localCheckpoint()
    val fps0 = graft.operators.Multimodal.mediaFingerprints(
      incoming, carry = watermark.map(_._1).toSeq,
      spectralAudio = spectralAudio, phashImages = phashImages,
      temporalVideo = temporalVideo)
    val fps = watermark.fold(fps0) { case (c, d) => fps0.withWatermark(c, d) }
    val tsCols = watermark.map { case (c, _) => col(c) }.toSeq
    val pairs = fps
      .select(Seq(col("media_id").as("new_id"), col("kind"), col("fp"),
        explode(Dedup.hammingBands(col("fp"), nb)).as("bk")) ++ tsCols: _*)
      .select(Seq(col("new_id"), col("kind"), col("fp"),
        col("bk.band").as("band"), col("bk.bv").as("bv")) ++ tsCols: _*)
      .join(baseIdx, Seq("kind", "band", "bv")) // stream-static equi-join
      .filter(col("base_id") =!= col("new_id"))
      .select(Seq(col("base_id"), col("new_id"), col("kind"),
        bit_count(col("fp").bitwiseXOR(col("base_fp")))
          .cast("long").as("hamming")) ++ tsCols: _*)
      .filter(col("hamming") <= maxHamming)
    watermark match {
      case Some((c, _)) =>
        pairs.dropDuplicatesWithinWatermark("base_id", "new_id").drop(c)
      case None => pairs.dropDuplicates("base_id", "new_id")
    }
  }

  /** Streaming benchmark decontamination: every incoming document screened
    * against a STATIC probe (benchmark/eval) suite as it arrives — the
    * live-ingest twin of `Decontaminate.contamination`, so eval leakage is
    * caught before a crawl batch ever lands in the training set.
    *
    * Scale shape differs from batch deliberately: batch explodes corpus
    * shingles into a hash-aggregation (the right shape for a 100 TB
    * re-screen), but aggregation on a stream is stateful. Here the probe
    * suite is SMALL by contract (thousands of rows — the batch operator's
    * maxProbeRows guard makes the same asymmetry explicit), so its shingle
    * SETS broadcast whole and each incoming document computes containment
    * per probe via `array_intersect` in one stateless map-side cross join —
    * no shuffle, no state store, nothing retained across micro-batches.
    * Containment values equal the batch operator's bit-for-bit (same
    * distinct-trigram sets, same |∩|/|probe| arithmetic).
    *
    * @param probes static frame holding the benchmark suite
    * @return streaming frame of (doc_id, probe_id, overlap, containment ≥
    *         minContainment) — the batch operator's output schema */
  def contaminationStream(
      incoming: DataFrame, probes: DataFrame, id: String, text: String,
      minContainment: Double): DataFrame = {
    graft.functions.GraftFunctions.register(probes.sparkSession)
    // a NULL-text probe has a null shingle set: its containment would be
    // null (and a hypothetical empty set would give 0/0 = NaN, which is
    // >= everything under Spark's ordering). Drop such probes — they
    // carry nothing to match. Sub-3-token probes are NOT dropped: the
    // shingle expression emits the whole text as a single shingle for
    // them, a real probe (decontamScreenStream treats both cases the
    // same way, so audit and survivor forms agree).
    val probeSets = probes.select(col(id).as("probe_id"),
      Dedup.wordTrigrams(col(text)).as("__tgp"))
      .where(size(col("__tgp")) > 0)
    incoming
      .select(col(id).as("doc_id"), Dedup.wordTrigrams(col(text)).as("__tgd"))
      .crossJoin(broadcast(probeSets))
      .select(col("doc_id"), col("probe_id"),
        size(array_intersect(col("__tgd"), col("__tgp"))).cast("long")
          .as("overlap"),
        (size(array_intersect(col("__tgd"), col("__tgp"))).cast("double")
          / size(col("__tgp"))).as("containment"))
      .filter(col("containment") >= minContainment)
  }

  /** SURVIVOR form of [[contaminationStream]] — the composable stage: one
    * row per incoming document, dropped iff ANY probe is contained at ≥
    * `minContainment`. [[contaminationStream]] emits (doc, probe) pairs,
    * which is the right audit output but cannot anti-join back onto the
    * stream (stream-stream anti joins don't exist); THIS keeps the stream
    * shape so screen → dedup → decontam chains as one query.
    *
    * The probe suite is SMALL by contract (the batch operator's
    * maxProbeRows guard makes the same asymmetry explicit): the row count
    * is bounded BEFORE anything is collected, then the distinct trigram
    * sets ride the plan as literals — a pure stateless Column
    * conjunction, no state store, no shuffle, no extra rows. Containment
    * arithmetic is the same |∩|/|probe| as batch; null-text and
    * sub-n-gram probes are skipped on both forms (no shingles — they
    * cannot witness containment). */
  def decontamScreenStream(
      incoming: DataFrame, probes: DataFrame, text: String,
      minContainment: Double, maxProbeRows: Int = 4096): DataFrame = {
    // ONE bounded job: limit caps what can ever reach the driver (at
    // most maxProbeRows+1 shingle sets), and the length check after
    // collect enforces the contract — no separate count job whose answer
    // a growing probe source could invalidate before the collect.
    // Null-text probes carry a null shingle set and are dropped up
    // front; sub-3-token probes produce a SINGLETON whole-text shingle
    // (WordTrigrams' short-text rule) — a real, matchable probe that is
    // correctly kept.
    val sets = probes
      .where(col(text).isNotNull)
      .limit(maxProbeRows + 1)
      .select(Dedup.wordTrigrams(col(text)))
      .collect().map(_.getSeq[String](0))
    require(sets.length <= maxProbeRows,
      s"decontamScreenStream: probe suite exceeds $maxProbeRows rows — " +
        "it must stay benchmark-sized (raise maxProbeRows consciously; " +
        "each probe's shingles ride the plan)")
    val tgd = Dedup.wordTrigrams(col(text))
    val contaminated = sets.filter(_.nonEmpty).map { p =>
      (size(array_intersect(tgd, typedLit(p))).cast("double")
        / lit(p.size)) >= minContainment
    }.foldLeft(lit(false))(_ || _)
    // null-text INCOMING docs have null shingles → null containment; a
    // bare filter(!null) would silently drop them (three-valued logic).
    // They carry no content to contaminate — keep them, like the audit
    // form (which simply never pairs them).
    incoming.filter(!coalesce(contaminated, lit(false)))
  }

  /** CCNet-style LM quality scoring on a stream: score incoming documents
    * against a PRETRAINED [[TextAnalysis.LmModel]]
    * ([[TextAnalysis.lmTrain]] on a reference corpus — the train-once /
    * score-every-batch deployment CCNet itself runs). The scorer is a
    * stateless narrow map (the model rides the closure, bounded by
    * lmTrain's loud size guard), so there is no state store, no
    * watermark, no shuffle — batch-twin equality is structural.
    *
    * @return streaming frame of (id, n_trans, xent) — [[TextAnalysis
    *         .lmScoreWith]]'s schema */
  def lmScoreStream(
      incoming: DataFrame, model: TextAnalysis.LmModel,
      id: String, text: String): DataFrame =
    TextAnalysis.lmScoreWith(model, incoming, id, text)

  /** The composed STATELESS curation screen as one stream: every
    * per-document verdict the batch [[graft.operators.Curation.pipeline]]
    * computes row-locally — repetition fraction, quality score, language
    * id, Gopher rule verdict, optional pretrained-LM cross-entropy — plus
    * the redacted emit text and one combined keep/drop verdict under the
    * same [[graft.operators.Curation.Config]] thresholds. No state store,
    * no watermark, no shuffle: the continual-ingest half of the curation
    * story. The corpus-relative stages keep their dedicated streaming
    * operators and compose downstream of this one ([[dedupStream]] /
    * [[nearDupAgainstBase]] for dedup, [[contaminationStream]] for
    * benchmark decontamination); span cut is inherently corpus-batch.
    *
    * Emits ALL verdict columns, not just survivors, so a caller can
    * route drops to a quarantine sink — filter `verdict = 'keep'` for
    * the curated stream. When `cfg.gopherScreen` is set the combined
    * verdict additionally requires the Gopher rules to pass, and when
    * `cfg.nbScreen` carries a trained
    * [[TextAnalysis.NbQualityModel]] the verdict also requires its
    * score ≥ the threshold (`nb_score` column; null when unset) —
    * mirroring the batch pipeline under the same Config.
    *
    * @param id a LONG-castable id column (the typed narrow map needs a
    *        concrete encoder — same restriction as
    *        [[TextAnalysis.lmScoreWith]]); non-numeric ids would cast to
    *        null. Set `stringId = true` to key by a STRING column
    *        instead (the crawl path keys by `target_uri` itself — a
    *        64-bit hash key would cross-join two colliding URIs'
    *        verdicts at multi-billion-page scale).
    * @param model pretrained [[TextAnalysis.LmModel]]; when present AND
    *        `cfg.lmXentMax` is set, high-xent documents drop. Documents
    *        with < 2 tokens have null xent and drop whenever the LM
    *        screen is on (unscoreable = unsafe, the batch rule).
    * @return (id, rep_fraction, quality, pred_lang, gopher_verdict,
    *         xent, nb_score, verdict, clean_text) */
  def curationScreenStream(
      incoming: DataFrame, id: String, text: String,
      model: Option[TextAnalysis.LmModel] = None,
      cfg: graft.operators.Curation.Config =
        graft.operators.Curation.Config(),
      stringId: Boolean = false): DataFrame = {
    val spark = incoming.sparkSession
    import spark.implicits._
    // HTML front stage, mirroring the batch pipeline: when
    // cfg.htmlExtract is set the incoming `text` is raw HTML — rewrite
    // it through extractText (certified as q_t43) BEFORE any screen, so
    // verdicts and clean_text judge extracted text. A pure codegen'd
    // Column rewrite: stateless, no watermark, streams unchanged.
    val extracted = if (cfg.htmlExtract)
      incoming.withColumn(text, TextAnalysis.extractText(col(text)))
    else incoming
    // ONE typed narrow map computes both per-row loop statistics — the
    // linear repetition fraction (the quadratic HOF form would bite on
    // long documents) and, when a model rides along, the LM xent; the
    // text column rides through for the Column-level screens. The id
    // type forks ONLY the encoder — the scoring loop is one shared
    // function, so the long- and string-keyed forms cannot drift.
    def scoreIt[K](it: Iterator[(K, String)])
        : Iterator[(K, String, Option[Double], Option[Double])] =
      it.map { case (d, t) =>
        val toks =
          if (t == null) Array.empty[String] else t.split(" ", -1)
        if (toks.length < 2) (d, t, Option.empty[Double],
          Option.empty[Double])
        else {
          val rep = TextAnalysis.topBigramFracOf(toks)
          // ONE shared scoring loop (LmModel.score) — the bit-equality
          // contract with the batch scorer cannot fork
          val xent = model.flatMap(_.score(toks)).map(_._2)
          (d, t, Some(rep), xent)
        }
      }
    val scored = (if (stringId)
      extracted.select(col(id).cast("string"), col(text))
        .as[(String, String)].mapPartitions(scoreIt[String] _).toDF()
    else
      extracted.select(col(id).cast("long"), col(text))
        .as[(Long, String)].mapPartitions(scoreIt[Long] _).toDF())
      .toDF(id, text, "rep_fraction", "xent")
    val lmOn = model.isDefined && cfg.lmXentMax.isDefined
    scored
      // token array as a REAL column: the Gopher sub-rules index one
      // split, not one per rule (the lambda-CSE Catalyst trap)
      .withColumn("__gt", TextAnalysis.tokens(col(text)))
      .select(
        col(id), col("rep_fraction"),
        TextAnalysis.qualityScore(col(text)).as("quality"),
        TextAnalysis.langId(col(text)).as("pred_lang"),
        TextAnalysis.gopherVerdictFrom(col(text), col("__gt"))
          .as("gopher_verdict"),
        col("xent"),
        // trained-NB score (null when no model is configured) — the same
        // literal-weights fold the batch pipeline's nbScreen stage runs
        cfg.nbScreen.map { case (m, _) => m.score(col(text)) }
          .getOrElse(lit(null).cast("double")).as("nb_score"),
        TextAnalysis.redact(col(text)).as("clean_text"))
      .withColumn("verdict",
        when(col("rep_fraction") < cfg.repetitionDropAt
          && col("quality") >= cfg.minQuality
          && col("pred_lang") === cfg.lang
          && (if (cfg.gopherScreen) col("gopher_verdict") === lit("keep")
              else lit(true))
          && (if (lmOn) col("xent") <= cfg.lmXentMax.get else lit(true))
          && cfg.nbScreen.fold(lit(true)) { case (_, thr) =>
            col("nb_score") >= thr
          },
          lit("keep")).otherwise(lit("drop")))
      .select(col(id), col("rep_fraction"), col("quality"),
        col("pred_lang"), col("gopher_verdict"), col("xent"),
        col("nb_score"), col("verdict"), col("clean_text"))
  }

  /** The page projection of a WARC landing directory shared by the
    * streaming and batch halves of the crawl story: HTTP-200 `text/html`
    * response records (content type matched case-insensitively — real
    * servers emit `Text/HTML` too), payload decoded CHARSET-AWARE via
    * [[graft.operators.CharsetDecode.decodePayload]] (BOM → Content-Type
    * `charset=` → meta prescan → UTF-8 validity → windows-1252) — a
    * real crawl is several percent non-UTF-8, and a bare UTF-8 decode
    * would mojibake those pages into extraction, langid, dedup, and
    * the WET sink. The authoritative page key is `target_uri` ITSELF;
    * `page_id = xxhash64(target_uri)` rides alongside as a compact
    * CONVENIENCE handle only — at multi-billion-page scale 64-bit
    * birthday collisions are likely (~20% chance of one at 3B URIs),
    * so nothing in the pipeline joins on it. */
  private def crawlPageCols(warc: DataFrame): DataFrame = warc
    .filter(col("warc_type") === "response"
      && col("http_status") === 200
      && lower(coalesce(col("http_content_type"), lit("")))
        .startsWith("text/html"))
    .select(xxhash64(col("target_uri")).as("page_id"),
      col("target_uri"),
      graft.operators.CharsetDecode.decodePayload(
        col("payload"), col("http_content_type")).as("text"))

  /** Streaming (page_id, target_uri, text) over a WARC landing
    * directory — compose downstream operators on this, or join its
    * static twin [[crawlPages]] back to a screened sink by
    * `target_uri` (the authoritative key; `page_id` is a convenience
    * hash, see [[crawlPageCols]]). */
  def crawlPageStream(spark: SparkSession, dir: String): DataFrame =
    crawlPageCols(spark.readStream.format("graft-warc").load(dir))

  /** Batch twin of [[crawlPageStream]] over the same directory. */
  def crawlPages(spark: SparkSession, dir: String): DataFrame =
    crawlPageCols(spark.read.format("graft-warc").load(dir))

  /** The COMPLETE continual-ingest crawl story in one call: tail a WARC
    * landing directory (`graft-warc` micro-batch stream — constant-size
    * epoch offsets over the compacted seen log), keep HTTP-200
    * `text/html` responses, decode payload bytes, and run the composed
    * stateless curation screen with the HTML front stage forced on
    * ([[curationScreenStream]] under `cfg.copy(htmlExtract = true)`), so
    * every verdict judges EXTRACTED text. Emits the screen's verdict
    * columns keyed by `target_uri` — the URI is the authoritative page
    * identity, so consumers join on it directly (no 64-bit hash key
    * whose birthday collisions would cross-join two URIs' verdicts at
    * multi-billion-page scale). Corpus-relative stages
    * ([[nearDupAgainstBase]], [[contaminationStream]]) compose
    * downstream, exactly as for any other screened stream. */
  def crawlScreenStream(
      spark: SparkSession, dir: String,
      model: Option[TextAnalysis.LmModel] = None,
      cfg: graft.operators.Curation.Config =
        graft.operators.Curation.Config()): DataFrame =
    curationScreenStream(crawlPageStream(spark, dir), "target_uri",
      "text", model, cfg.copy(htmlExtract = true), stringId = true)

  /** The crawl pipeline CLOSED end to end as one streaming job: tail a
    * WARC landing directory, extract + screen every page
    * ([[curationScreenStream]]'s verdict columns, HTML front stage
    * forced on), and archive each micro-batch's SURVIVORS as WET
    * `conversion` records ([[graft.sources.WarcIO.wetSave]]) under
    * `outDir/batch=<id>` — re-readable with a one-level glob over
    * `outDir` through `format("graft-warc")`. The screen is keyed by
    * `target_uri` itself, so the verdicts carry their URIs — no
    * join-back, and no 64-bit hash key whose collision would cross two
    * URIs' verdicts. Runs inside `foreachBatch`, where the micro-batch
    * is a STATIC frame, and a checkpoint-replayed batch rewrites its
    * own `batch=` directory — exactly once, the idempotence scheme
    * every other `foreachBatch` sink here uses. Dropped pages are
    * simply not archived; route them elsewhere by composing the screen
    * directly if a quarantine sink is needed. */
  def crawlCurateToWetSink(
      spark: SparkSession, inDir: String, outDir: String,
      checkpoint: String,
      model: Option[TextAnalysis.LmModel] = None,
      cfg: graft.operators.Curation.Config =
        graft.operators.Curation.Config(),
      /** WARC-Date stamped on the archived records; None = capture
        * time (current_timestamp at batch execution). Pin a literal
        * for reproducible archives — a replayed batch then rewrites
        * BYTE-identical files, not just row-identical ones. */
      warcDate: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    crawlPageStream(spark, inDir).writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], batchId: Long) =>
        val pages = batch.toDF().localCheckpoint()
        val keep = curationScreenStream(pages, "target_uri", "text",
          model, cfg.copy(htmlExtract = true), stringId = true)
          .filter(col("verdict") === "keep")
          .select(col("target_uri"),
            warcDate.map(lit(_)).getOrElse(
              date_format(current_timestamp(),
                "yyyy-MM-dd'T'HH:mm:ss'Z'")).as("warc_date"),
            // record id minted from the URI hash — same VALUE the old
            // page_id join produced, but only a label here: row
            // identity is target_uri, so a hash collision can at worst
            // duplicate a record-id string, never cross two pages
            concat(lit("<urn:graft:wet:"),
              xxhash64(col("target_uri")).cast("string"),
              lit(">")).as("record_id"),
            col("clean_text").as("text"))
        graft.sources.WarcIO.wetSave(
          keep, f"$outDir%s/batch=$batchId%06d")
        ()
      }
      .start()

  /** Streaming outlinks over a WARC landing directory: one row per
    * (page, resolved absolute link) — [[graft.operators.Outlinks
    * .extractOutlinks]] over the crawl page stream (the `text` column
    * is the decoded HTML payload; extraction and RFC 3986 resolution
    * are narrow per-row work, so the stream stays stateless here). */
  def crawlOutlinkStream(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Outlinks.extractOutlinks(
      crawlPageStream(spark, dir), "text", "target_uri")

  /** Streaming redirect targets over a WARC landing directory — the
    * frontier feed HTTP itself emits ([[graft.operators.Outlinks
    * .redirectEdges]]): 3xx responses' resolved Location targets.
    * Reads the RAW response stream (a 301 carries no HTML body for
    * [[crawlPageStream]] to keep), narrow per-row. */
  def crawlRedirectStream(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Outlinks.redirectEdges(
      spark.readStream.format("graft-warc").load(dir)
        .filter(col("warc_type") === "response"))

  /** The CONTINUAL frontier: canonical fetchable outlinks of the crawl
    * stream, minus a static seen set, each NEW URL emitted exactly once
    * across the stream's lifetime with its politeness keys. The
    * exactly-once emission is `dropDuplicates` state keyed by the
    * canonical URL — that state IS the crawler's emitted-frontier set,
    * so its growth is inherent to the problem, not a leak; at crawl
    * scale back it with the RocksDB state store, and fold long-lived
    * state back into the static `seen` table across restarts
    * ([[foldFrontierSeen]] automates the fold). The seen-side
    * anti-join streams against the static table per micro-batch.
    *
    * `includeRedirects` (default on — a crawler that drops them loses
    * every moved page) unions BOTH redirect classes into the link
    * feed before the exactly-once dedup: the 3xx responses' resolved
    * Location targets ([[crawlRedirectStream]]) and the in-markup
    * meta-refresh targets ([[graft.operators.Outlinks
    * .metaRefreshEdges]] over the page stream). A redirect target and
    * an anchor link to the same canonical URL still emit once.
    *
    * `canonicalMap` (an [[graft.operators.Outlinks.canonicalMapping]]
    * frame — resolved redirect chains + page-declared canonicals)
    * rewrites every link through the alias→canonical mapping BEFORE
    * the exactly-once dedup and the seen anti-join, so URL aliases of
    * a page the crawl knows stop re-entering the frontier and
    * double-fetching: the dedup state keys on the COLLAPSED URL, and
    * the politeness keys derive from it. A stream-static left join on
    * the URL — broadcast when the mapping fits. */
  def crawlFrontierStream(
      spark: SparkSession, dir: String,
      seen: DataFrame, seenCol: String,
      includeRedirects: Boolean = true,
      canonicalMap: Option[DataFrame] = None,
      mapFromCol: String = "alias_url",
      mapToCol: String = "canonical_url"): DataFrame = {
    import graft.operators.{CharsetDecode, Outlinks}
    // ONE readStream over the landing dir: anchors, redirect targets,
    // and meta-refresh targets all derive from a single scan — three
    // independent file sources here would list and read every WARC
    // batch three times and charset-decode each page's payload twice
    // per micro-batch. The decode is projected once (null for
    // non-HTML rows — `If` evaluates lazily, so images never decode),
    // and each feed becomes one element/array of a single exploded
    // link column.
    val raw = spark.readStream.format("graft-warc").load(dir)
      .filter(col("warc_type") === "response")
    val isHtml = col("http_status") === 200 &&
      lower(coalesce(col("http_content_type"), lit("")))
        .startsWith("text/html")
    val enriched = raw.withColumn("__text",
      when(isHtml, CharsetDecode.decodePayload(
        col("payload"), col("http_content_type"))))
    val anchors = when(col("__text").isNotNull,
        Outlinks.pageLinks(col("__text"), col("target_uri")))
      .otherwise(array().cast("array<string>"))
    val linkArr = if (!includeRedirects) anchors else concat(
      anchors,
      array(Outlinks.redirectTarget(col("http_status"),
        col("http_headers"), col("target_uri"))),
      array(Outlinks.metaRefreshTarget(col("__text"),
        col("target_uri"))))
    val links = Outlinks.canonicalLinks(
      enriched.select(explode(linkArr).as("__link")), "__link")
    val collapsed = canonicalMap.fold(links)(m =>
      Outlinks.applyCanonical(links, "frontier_url", m,
        mapFromCol, mapToCol))
    Outlinks.politenessKeys(
      collapsed
        .dropDuplicates("frontier_url")
        .join(Outlinks.canonicalSeen(seen, seenCol),
          Seq("frontier_url"), "left_anti"))
  }

  /** The crawl loop CLOSED at the scheduling end: tail a WARC landing
    * directory, derive the continual frontier
    * ([[crawlFrontierStream]] — anchor links + redirect targets, minus
    * seen, each new canonical URL once), and per micro-batch emit the
    * POLITENESS-SEQUENCED fetch schedule ([[graft.operators.Outlinks
    * .fetchPlan]]: robots gate, per-host crawl-delay with the
    * `defaultDelay` floor, per-host `fetch_seq`/`fetch_offset`,
    * optional `maxPerHost` cap) as parquet under `outDir/batch=<id>` —
    * the work queue a fetcher fleet consumes, one directory per crawl
    * cycle.
    *
    * Sequencing is PER CYCLE by design: each batch is its own
    * politeness window, so `fetch_offset` restarts at 0 — a fetcher
    * drains one batch directory at a time. Exactly-once: the frontier
    * state replays deterministically per batchId and the plan is a
    * deterministic function of the batch, so a checkpoint-replayed
    * batch rewrites its own directory (mode overwrite) with the same
    * rows. The policies frame is static build-side (broadcast when it
    * fits); the per-batch rank is [[graft.operators.Skew
    * .rankWithinKey]] — no single-task host sort, however hot the
    * host.
    *
    * `maxPerHost > 0` would silently LOSE the capped URLs without
    * help: the frontier's `dropDuplicates` state emits each canonical
    * URL exactly once, so nothing re-derives them next cycle (unlike
    * the batch crawl loop, which re-extracts). The sink therefore
    * CARRIES THEM OVER: each cycle's over-cap rows are written to
    * `<outDir>-deferred/batch=<id>` (the complete pending set — it
    * already includes everything carried into the cycle), and cycle
    * N+1 plans over its new frontier rows UNIONED with cycle N's
    * deferred set. The pending set lives in a SIBLING directory, not
    * under `outDir` — nesting it there would mix `batch=*` leaves and
    * a subtree at different depths and break whole-directory
    * `spark.read.parquet(outDir)` partition discovery for exactly the
    * capped sinks that used to read cleanly. Replay-deterministic:
    * batch N always reads `-deferred/batch=<N-1>` — a committed
    * artifact of the previous cycle — never "the latest", so a
    * checkpoint-replayed batch rewrites both its plan and its deferred
    * set byte-identically. Deferred URLs compete on equal terms each
    * cycle (priority, then URL), so the backlog drains
    * highest-value-first.
    *
    * Checkpoints from before the sibling move (deferred set under
    * `outDir/deferred/`) adopt transparently: the first resumed batch
    * falls back to the legacy location when the sibling path is
    * absent, then writes the sibling layout from that batch on.
    *
    * `priorities` and the robots-freshness contract pass straight
    * through to [[graft.operators.Outlinks.fetchPlan]].
    *
    * POLICY REFRESH CONTRACT (the asymmetry with the batch twin,
    * pinned here deliberately): [[graft.operators.CrawlLoop
    * .crawlCycles]] closes the robots/sitemap discovery loop INSIDE
    * the loop (`fetchRobots`/`fetchSitemaps`); this sink does not —
    * `policies` is a static frame the CALLER refreshes out-of-band
    * (re-read per batch only through the frames it already holds;
    * a continuously-updated policy table belongs to the fetcher
    * fleet that tails the plan directories, which is also the thing
    * actually fetching robots.txt). The freshness semantics make the
    * contract safe: with `fetchedAtCol`/`maxAgeSeconds`/`asOf`, a
    * policy row older than the horizon gates as ABSENT (RFC 9309
    * default-allow, the q_t65 semantics), so a stale table degrades
    * to default-allow instead of enforcing dead rules, and hosts
    * resurface to the caller's own robots worklist
    * ([[graft.operators.Robots.robotsFetchList]]) rather than being
    * silently dropped — StreamingSpec pins this on the stream. */
  def crawlFetchPlanSink(
      spark: SparkSession, inDir: String, outDir: String,
      checkpoint: String, seen: DataFrame, seenCol: String,
      policies: DataFrame, hostCol: String, robotsCol: String,
      agent: String, defaultDelay: Double = 1.0,
      maxPerHost: Int = 0,
      priorities: Option[DataFrame] = None,
      /** Per-batch PRIORITY refresh — the streaming analogue of the
        * batch loop recomputing its rank frame every cycle: when set,
        * batch N's plan scores with `prioritiesRefresh(N)` (e.g.
        * [[graft.operators.LinkGraph.pageRank]] re-run over the
        * accumulated archive, or [[graft.operators.Outlinks
        * .focusedRankPriorities]] for a focused stream) instead of
        * the static `priorities` frame. Exactly-once replay requires
        * the function to be DETERMINISTIC per batch id: derive the
        * frame from committed artifacts of batches < N (the archive,
        * a ranks table the caller snapshots per cycle), never from
        * "the latest" mutable state — same contract as the deferred
        * set's batch-(N-1) read. */
      prioritiesRefresh: Option[Long => DataFrame] = None,
      priorityUrlCol: String = "node", priorityCol: String = "rank",
      fetchedAtCol: Option[String] = None,
      maxAgeSeconds: Long = 86400L,
      asOf: Option[org.apache.spark.sql.Column] = None,
      hostBudgets: Option[DataFrame] = None,
      budgetHostCol: String = "url_host", budgetCol: String = "budget",
      /** alias→canonical mapping applied to the frontier before the
        * exactly-once dedup ([[crawlFrontierStream]]'s contract) —
        * pass [[graft.operators.Outlinks.canonicalMapping]] output so
        * aliases stop double-scheduling fetches. */
      canonicalMap: Option[DataFrame] = None,
      mapFromCol: String = "alias_url",
      mapToCol: String = "canonical_url")
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val capped = maxPerHost > 0 || hostBudgets.isDefined
    crawlFrontierStream(spark, inDir, seen, seenCol,
      canonicalMap = canonicalMap, mapFromCol = mapFromCol,
      mapToCol = mapToCol).writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], batchId: Long) =>
        import org.apache.hadoop.fs.Path
        val frontier = batch.toDF()
        val inCols = frontier.columns.toSeq
        val input =
          if (!capped) frontier
          else {
            // previous cycle's pending set — ALWAYS batch N-1 (written
            // every cycle, possibly empty), so replay is deterministic;
            // absent only on the first cycle or when a pre-carry-over
            // checkpoint is adopted (treated as an empty backlog)
            val prev = f"$outDir%s-deferred/batch=${batchId - 1}%06d"
            // pre-sibling layout (the deferred set once lived UNDER
            // outDir): a checkpoint created before the move resumes
            // here exactly once — its first batch reads the legacy
            // location, writes the sibling one, and every later batch
            // finds the sibling; without the fallback the old backlog
            // would silently read as empty and every carried-over
            // pending URL would be dropped
            val legacy = f"$outDir%s/deferred/batch=${batchId - 1}%06d"
            val fs = new Path(outDir)
              .getFileSystem(spark.sessionState.newHadoopConf())
            val carried =
              if (batchId > 0 && fs.exists(new Path(prev)))
                // explicit schema: an all-kept previous cycle leaves a
                // zero-file directory that schema inference would reject
                spark.read.schema(frontier.schema).parquet(prev)
              else if (batchId > 0 && fs.exists(new Path(legacy)))
                spark.read.schema(frontier.schema).parquet(legacy)
              else frontier.limit(0)
            frontier.unionByName(carried)
              .dropDuplicates("frontier_url")
          }
        val plan = graft.operators.Outlinks.fetchPlan(
          input, "frontier_url", policies, hostCol, robotsCol,
          agent, defaultDelay, maxPerHost = 0,
          priorities = prioritiesRefresh.map(_(batchId))
            .orElse(priorities),
          priorityUrlCol = priorityUrlCol,
          priorityCol = priorityCol, fetchedAtCol = fetchedAtCol,
          maxAgeSeconds = maxAgeSeconds, asOf = asOf)
        if (!capped) {
          plan.write.mode("overwrite")
            .parquet(f"$outDir%s/batch=$batchId%06d")
        } else {
          // the SAME per-host limit column fetchPlan's own cap uses —
          // kept and deferred can never disagree with the batch form;
          // fetch_seq is pinned inside rankWithinKey (eager
          // localCheckpoint), so the two filters below read one
          // frozen ranking
          val limited = graft.operators.Outlinks.withFetchLimit(
            plan, maxPerHost, hostBudgets, budgetHostCol, budgetCol)
          limited.filter(col("fetch_seq") <= col("__limit"))
            .drop("__limit")
            .write.mode("overwrite")
            .parquet(f"$outDir%s/batch=$batchId%06d")
          limited.filter(col("fetch_seq") > col("__limit"))
            .select(inCols.map(col): _*)
            .write.mode("overwrite")
            .parquet(f"$outDir%s-deferred/batch=$batchId%06d")
        }
        ()
      }
      .start()
  }

  /** Fold the frontier stream's long-lived exactly-once state back
    * into its static seen table — the maintenance operator behind
    * [[crawlFrontierStream]]'s documented recipe, now one call instead
    * of a manual procedure. The stream's `dropDuplicates` state IS its
    * emitted-URL set and grows for the crawl's lifetime; periodically
    * folding that set into the static seen side keeps state bounded by
    * the interval between folds, not the crawl's age.
    *
    * Run with the stream STOPPED. Steps, crash-ordered so the seen
    * table is never less complete than the emissions it replaces:
    *  1. read the committed frontier output (`_spark_metadata`-aware —
    *     uncommitted stragglers from a killed batch are ignored, same
    *     rows a restart would re-emit),
    *  2. union its `frontier_url`s (distinct) into the seen table at
    *     `seenDir` (column `seenCol`; created if absent) via
    *     tmp + rename publish,
    *  3. archive (as PLAIN parquet — the sink's `_spark_metadata`
    *     records absolute paths, so the dir cannot just be renamed)
    *     or delete the folded output directory (`emittedArchive` —
    *     consumers must have drained it),
    *  4. delete the checkpoint LAST — a crash before this leaves the
    *     old lineage intact (restart just carries redundant state);
    *     deleting it any earlier could re-emit.
    * Restarting [[crawlFrontierStream]] with the SAME seen table path
    * and a fresh checkpoint then re-reads the landing directory from
    * scratch, anti-joins away everything ever emitted, and emits only
    * URLs the crawl has truly never seen — no re-emission, no loss
    * (pinned by the WarcSpec fold-restart test).
    *
    * @return the folded seen-table row count */
  def foldFrontierSeen(
      spark: SparkSession, frontierOut: String, seenDir: String,
      seenCol: String, checkpoint: String,
      emittedArchive: Option[String] = None): Long = {
    import org.apache.hadoop.fs.Path
    val conf = spark.sessionState.newHadoopConf()
    val seenPath = new Path(seenDir)
    val fs = seenPath.getFileSystem(conf)
    // committed rows only: the read is `_spark_metadata`-aware, so
    // stragglers from a killed batch are invisible here AND in the
    // archive copy below (a restart would re-emit those rows)
    val committed = spark.read.parquet(frontierOut)
    val emitted = committed.select(col("frontier_url").as(seenCol))
    // archive FIRST (full frontier columns, plain parquet): a rename
    // would carry the sink's metadata log whose absolute paths point
    // at the retired location — a metadata-aware read of the moved dir
    // would see zero files
    emittedArchive.foreach(dest =>
      committed.write.mode("overwrite").parquet(dest))
    val folded = (if (fs.exists(seenPath))
        spark.read.parquet(seenDir).select(col(seenCol)).union(emitted)
      else emitted).distinct()
    val tmp = new Path(seenPath.getParent,
      s".${seenPath.getName}.fold.tmp")
    fs.delete(tmp, true)
    folded.write.mode("overwrite").parquet(tmp.toString)
    val old = new Path(seenPath.getParent, s".${seenPath.getName}.old")
    fs.delete(old, true)
    if (fs.exists(seenPath)) require(fs.rename(seenPath, old),
      s"foldFrontierSeen: could not retire $seenDir")
    require(fs.rename(tmp, seenPath),
      s"foldFrontierSeen: could not publish $seenDir")
    fs.delete(old, true)
    fs.delete(new Path(frontierOut), true)
    fs.delete(new Path(checkpoint), true)
    spark.read.parquet(seenDir).count()
  }

  /** WAT sidecar archival for a continual crawl — the streaming member
    * the format triad was missing (WARC landing = the pages, WET =
    * [[crawlCurateToWetSink]], WAT = this): tail a WARC landing
    * directory and archive, per `response` capture, one `metadata`
    * record under `outDir/batch=<id>` whose JSON payload is the pinned
    * [[graft.sources.WarcIO.WatPayloadSchema]] envelope — HTTP status,
    * served Content-Type, the page `<title>`, and the RESOLVED outlink
    * array — with `WARC-Refers-To` naming the capture's own record id
    * and `WARC-Date` passing the capture date through (nothing is
    * stamped at write time). Non-HTML responses (images, scripts)
    * still get their status/content-type row; title/links stay null.
    *
    * Exactly-once on replay: every field derives from the landing
    * records, so a checkpoint-replayed batch rewrites its own `batch=`
    * directory byte-identically — the same idempotence scheme as every
    * other `foreachBatch` sink here. Read the whole sidecar back with
    * `WarcIO.watEntries(spark.read.format("graft-warc")
    * .load(s"$outDir/batch=*"))`. Extraction (title, links, charset
    * decode) is narrow per-row work; the only shuffle is the archive
    * writer's repartition-free partition walk. */
  def crawlWatSink(
      spark: SparkSession, inDir: String, outDir: String,
      checkpoint: String, codec: String = "gzip")
      : org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream.format("graft-warc").load(inDir)
      .filter(col("warc_type") === "response")
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], batchId: Long) =>
        import graft.operators.{CharsetDecode, Outlinks}
        val html = lower(coalesce(col("http_content_type"), lit("")))
          .startsWith("text/html")
        val text = CharsetDecode.decodePayload(
          col("payload"), col("http_content_type"))
        val meta = batch.toDF().select(
          col("target_uri"), col("warc_date"),
          // minted label only — row identity stays target_uri; the
          // authoritative pointer is refers_to (the capture's own id)
          concat(lit("<urn:graft:wat:"),
            xxhash64(coalesce(col("record_id"), col("target_uri")))
              .cast("string"), lit(">")).as("wat_id"),
          graft.sources.WarcIO.watPayload(
            col("http_status"), col("http_content_type"),
            when(html, Outlinks.htmlTitle(text)),
            when(html, Outlinks.pageLinks(text, col("target_uri"))))
            .as("metadata"),
          col("record_id").as("refers"))
        graft.sources.WarcIO.watSave(meta,
          f"$outDir%s/batch=$batchId%06d", codec, recordId = "wat_id",
          refersTo = Some("refers"))
        ()
      }
      .start()

  /** Continual-crawl ARCHIVAL with cross-batch dedup storage: tail a
    * WARC landing directory and re-archive every `response` capture
    * under `outDir/batch=<id>` in the deduplicated layout
    * ([[graft.sources.WarcIO.warcDedupSave]]) — one full response per
    * payload digest THE CRAWL HAS EVER SEEN, every later capture a
    * `revisit` envelope pointing at the first. The persistent dedup
    * index is nothing but the prior batches' `_cdx` sidecars
    * (digest + canonical record id, responses only) — no separate
    * index structure, and it rides the same atomic publish as the
    * archives themselves.
    *
    * Exactly-once on replay: the prior index EXCLUDES the batch's own
    * `batch=` directory, so a checkpoint-replayed batch sees exactly
    * the state it saw the first time and rewrites its own directory
    * byte-identically (all envelope fields pass through from the
    * landing records — nothing is stamped at write time).
    *
    * Read the whole archive back with a one-level glob —
    * `format("graft-warc").load(s"$outDir/batch=*")` — and
    * rematerialize with [[graft.sources.WarcIO.expandRevisits]]
    * (cross-batch referents resolve because the glob spans every
    * batch). The per-batch index read is a union of small parquet
    * sidecars that grows with batch count — compact long-lived crawls
    * by rewriting old batches through a fresh batch run. */
  def crawlDedupArchiveSink(
      spark: SparkSession, inDir: String, outDir: String,
      checkpoint: String, codec: String = "gzip")
      : org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream.format("graft-warc").load(inDir)
      .filter(col("warc_type") === "response")
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], batchId: Long) =>
        val s = batch.sparkSession
        val batchDir = f"batch=$batchId%06d"
        val outPath = new org.apache.hadoop.fs.Path(outDir)
        val fs = outPath.getFileSystem(
          s.sessionState.newHadoopConf())
        fs.mkdirs(outPath)
        val priorCdx = fs.listStatus(outPath)
          .filter(st => st.isDirectory
            && st.getPath.getName.startsWith("batch=")
            && st.getPath.getName != batchDir)
          .map(st => new org.apache.hadoop.fs.Path(st.getPath, "_cdx"))
          .filter(fs.exists)
          .map(_.toString)
        val prior =
          if (priorCdx.isEmpty) None
          else Some(s.read.parquet(priorCdx.toSeq: _*)
            .filter(col("warc_type") === "response"))
        graft.sources.WarcIO.warcDedupSave(
          batch.toDF(), s"$outDir/$batchDir", codec,
          httpStatus = Some("http_status"), priorIndex = prior)
        ()
      }
      .start()

  /** Streaming FHIR ADT feed: the same whole-file read + per-resource
    * pivot as the batch BundleReader, as a file-source stream. Downstream
    * flattens (graft.fhir.Flatten) apply unchanged. */
  def readBundleStream(
      spark: SparkSession, dir: String,
      model: FhirSchemaModel = FhirSchemaModel()): DataFrame =
    BundleReader.pivotStream(
      spark.readStream.option("wholetext", value = true).text(dir), model)

  /** One input row for [[uniformSampleStream]] (priority computed
    * up front by the same md5 column arithmetic as the batch draw). */
  final case class SampleIn(group: String, id: Long, pri: Long)

  /** A group's CURRENT sample: ids in priority order (rank 1 first). */
  final case class GroupSample(group: String, ids: Array[Long])

  /** Streaming exactly-k uniform sample per group — the incremental twin
    * of [[graft.operators.Sampling.uniformPerGroup]]. The bottom-k of a
    * deterministic priority is PREFIX-CONSISTENT: after any prefix of the
    * stream, a group's sample equals the batch draw over every row seen
    * so far (a new row can only displace the largest kept pair, never
    * reorder the draw), so the sample converges to the batch result and
    * is exactly reproducible at every step. Update mode: each micro-batch
    * re-emits the current sample of every touched group.
    *
    * Unlike the dedup/sessionize twins this needs NO watermark to bound
    * state: the group state is the sample itself — ≤ k (priority, id)
    * pairs per group, forever, by construction.
    *
    * At-least-once sources are safe: offers are deduped by (priority, id),
    * so a row re-delivered in a later micro-batch (or twice in one) cannot
    * occupy two sample slots. */
  def uniformSampleStream(
      rows: DataFrame, groupCol: String, idCol: String,
      k: Int): org.apache.spark.sql.Dataset[GroupSample] = {
    require(k >= 1 && k <= 65536, s"k in [1, 65536]: $k")
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val spark = rows.sparkSession
    import spark.implicits._
    rows
      .select(col(groupCol).cast("string").as("group"),
        col(idCol).cast("long").as("id"),
        graft.operators.Sampling.md5Priority(col(idCol)).as("pri"))
      .as[SampleIn]
      .groupByKey(_.group)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(
        (group: String, it: Iterator[SampleIn],
         state: org.apache.spark.sql.streaming.GroupState[
           Array[(Long, Long)]]) => {
          // dedupe offers by (pri, id): an at-least-once source can
          // re-deliver a row in a later micro-batch (or twice in one),
          // and a duplicate insert would occupy two of the k slots and
          // evict a distinct id — breaking prefix-consistency with the
          // batch draw. Scratch set is bounded by k + this group's batch
          // rows. (A pair evicted earlier can never re-enter: k smaller
          // pairs exist by definition, so skipping it is also correct.)
          val seen = scala.collection.mutable.HashSet.empty[(Long, Long)]
          val heap = new graft.functions.BottomKSketch.Heap(k)
          state.getOption.foreach(_.foreach { case (p, v) =>
            if (seen.add((p, v))) heap.offer(p, v)
          })
          it.foreach(r => if (seen.add((r.pri, r.id))) heap.offer(r.pri, r.id))
          val kept = (0 until heap.size)
            .map(i => (heap.pris(i), heap.items(i)))
            .sortBy(identity).toArray
          state.update(kept)
          GroupSample(group, kept.map(_._2))
        })
  }

  /** One micro-batch of the streaming ANN screen: probe the prebuilt
    * IVF-PQ index through the fully distributed
    * [[graft.operators.Similarity.ivfPqTopKJoin]] (query side never
    * collected) and write this batch's top-k matches to a
    * `batch=NNNNNN` partition directory with overwrite — so a
    * checkpoint-replayed batch rewrites its own directory instead of
    * appending duplicates (the exactly-once recipe the upsert sink's
    * versioning serves for keyed state, specialized to append-only
    * results). Also directly usable for batch incremental loads. */
  def annScreenBatch(
      index: graft.operators.Similarity.IvfPqIndex, batch: DataFrame,
      id: String, vec: String, k: Int, outDir: String, batchId: Long,
      rerank: Int = graft.operators.Similarity.PqRerank,
      probes: Int = graft.operators.Similarity.IvfProbes): Unit =
    graft.operators.Similarity
      .ivfPqTopKJoin(index, batch, id, vec, k, rerank, probes)
      .write.mode("overwrite")
      .parquet(f"$outDir/batch=$batchId%06d")

  /** Continuous ANN retrieval against a prebuilt IVF-PQ index — the
    * streaming twin of the batch ANN join (embed a crawl stream, probe
    * the daily index, land neighbors continuously): each micro-batch of
    * embedded rows runs [[annScreenBatch]]. Top-k ranking needs a window
    * over the batch's candidates, which append-mode streaming cannot
    * express — foreachBatch is the intended shape for exactly this case,
    * and idempotent per-batch directories keep replays exactly-once.
    * Read results as `spark.read.parquet(outDir)`; the `batch` partition
    * column carries provenance.
    *
    * Scale shape: identical to the batch join per micro-batch — banded
    * (list_id) equi-join candidates, codegen'd ADC, salted exact
    * shortlist; the index frames are the long-lived side, the stream is
    * the probe side. */
  def annScreenSink(
      index: graft.operators.Similarity.IvfPqIndex, stream: DataFrame,
      id: String, vec: String, k: Int, outDir: String, checkpoint: String,
      rerank: Int = graft.operators.Similarity.PqRerank,
      probes: Int = graft.operators.Similarity.IvfProbes)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // batchId idempotence is scoped to ONE checkpoint lineage — a fresh
    // checkpoint against an outDir with prior batches would overwrite
    // them from batch 0; refuse up front
    graft.operators.IndexIO.requireSameLineage(
      stream.sparkSession, outDir, checkpoint, what = "screen results")
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], batchId: Long) =>
        annScreenBatch(index, batch.toDF(), id, vec, k, outDir, batchId,
          rerank, probes)
      }
      .start()
  }

  /** Default key-space partition (bucket) count for [[upsertSink]] state.
    * Fixed at state creation (the first committed merge) and read back
    * from the manifest thereafter. It bounds a merge's parallelism, not its
    * task count: a merge packs whole buckets into tasks, as many tasks as
    * its bytes need and at most one per touched bucket. Size it so one
    * bucket's state fits one task comfortably (at 100 TB of state that
    * means thousands, not 32). */
  val UpsertDefaultPartitions = 32

  /** The lakehouse MERGE recipe as a foreachBatch sink on plain parquet:
    * every micro-batch folds into a keyed state directory, keeping the
    * highest-`versionCol` row per key (exactly the batch q_j7 staging
    * semantics, continuously). The state is HASH-PARTITIONED on the key
    * columns into `numPartitions` buckets fixed at creation, and
    * MANIFEST-COMMITTED: a merge writes fresh files ONLY for the buckets
    * its batch touches (under `v%05d/__graft_p=K`, one `_SUCCESS` per
    * version), then publishes `_manifests/m%05d.json` mapping every
    * bucket to the version that last wrote it — the manifest write is
    * the commit point. Readers follow the newest manifest, so a crash
    * mid-merge leaves the previous state fully readable, and a
    * checkpoint-replayed batch re-merges idempotently (same rows per
    * key; versions are manifest-chained, not batch-id-derived, so even a
    * FRESH checkpoint pointed at existing state merges correctly rather
    * than overwriting).
    *
    * Scale shape: per-batch cost is one shuffle over (touched state ∪
    * batch) — the table-format MERGE file-group model on plain parquet.
    * That shuffle moves whole buckets into tasks: the task count follows
    * the merge's bytes (one task per
    * `spark.sql.adaptive.advisoryPartitionSizeInBytes`), capped at the
    * touched bucket count, so a small batch is written by one task and
    * every touched bucket still gets exactly one file. The batch's schema
    * is the state's schema: touched buckets are read with it, no footer
    * inference. A batch updating 1 of P buckets rewrites 1/P of the
    * state, not all of it; UpsertCompactionSpec pins that cost curve.
    * Version dirs are pruned at bucket granularity via the manifests (a
    * dir survives while ANY bucket still points at it);
    * [[compactUpsertState]] folds the live buckets into a single fresh
    * version when file counts or stale-dir amplification drift. */
  def upsertSink(
      stream: DataFrame, stateDir: String, keyCols: Seq[String],
      versionCol: String, checkpoint: String,
      numPartitions: Int = UpsertDefaultPartitions)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(keyCols.nonEmpty, "upsertSink needs at least one key column")
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], _: Long) =>
        upsertBatch(batch.toDF(), stateDir, keyCols, versionCol,
          numPartitions)
      }
      .start()
  }

  /** One merge step of [[upsertSink]] — also directly usable for batch
    * incremental loads into the same state directory. Reads ONLY the
    * buckets the batch touches (every batch key hashes into one of
    * them, so per-key max-version dedup never needs the others), writes
    * only those buckets into the next version, and commits by manifest.
    *
    * The batch's schema is the state's schema (every merge writes the
    * batch columns by name), so the touched buckets are read with it.
    * One hash exchange on the bucket column serves both the per-key
    * ranking (a window partitioned by bucket + keys) and the write; it
    * moves whole buckets into [[upsertMergeTasks]] tasks, so each touched
    * bucket gets exactly one file in the new version. */
  def upsertBatch(
      batch: DataFrame, stateDir: String, keyCols: Seq[String],
      versionCol: String,
      numPartitions: Int = UpsertDefaultPartitions): Unit = {
    require(keyCols.nonEmpty, "upsertBatch needs at least one key column")
    require(numPartitions > 0 && numPartitions <= 65536,
      s"bad upsert state partition count: $numPartitions")
    val spark = batch.sparkSession
    val prev = latestUpsertManifest(spark, stateDir)
    // the stored partition count wins: the key→bucket map is frozen at
    // state creation (changing it silently would split keys across
    // buckets and break per-bucket dedup)
    val p = prev.map(_.numParts).getOrElse(numPartitions)
    val pCol = pmod(hash(keyCols.map(col): _*), lit(p))
    // bounded driver collect: ≤ p ints, never data rows
    val touched = batch.withColumn("__graft_p", pCol)
      .select("__graft_p").distinct()
      .collect().map(_.getInt(0)).sorted
    if (touched.isEmpty) return // empty micro-batch: nothing to commit
    val batchCols = batch.columns.toSeq
    val oldTouched = prev.map { m =>
      touched.toSeq.flatMap(k => m.parts.get(k).map(v =>
        f"$stateDir/v$v%05d/__graft_p=$k"))
    }.getOrElse(Nil)
    val merged =
      if (oldTouched.isEmpty) batch
      else spark.read.schema(batch.schema).parquet(oldTouched: _*)
        .select(batchCols.map(col): _*).unionByName(batch)
    val tasks = upsertMergeTasks(
      merged.queryExecution.optimizedPlan.stats.sizeInBytes,
      spark.sessionState.conf.getConf(
        org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES),
      touched.length)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy((col("__graft_p") +: keyCols.map(col)): _*)
      .orderBy(col(versionCol).desc)
    val next = prev.map(_.id + 1).getOrElse(0)
    merged
      .withColumn("__graft_p", pCol)
      // whole buckets per task: the window's clustering (bucket + keys)
      // is satisfied by this exchange, so it is the merge's only one
      .repartition(tasks, col("__graft_p"))
      .withColumn("__graft_rn", row_number().over(w))
      .filter(col("__graft_rn") === 1)
      .drop("__graft_rn")
      .write.mode("overwrite")
      .partitionBy("__graft_p")
      .parquet(f"$stateDir/v$next%05d")
    // the manifest write is the commit point
    writeUpsertManifest(spark, stateDir, UpsertManifest(next, p,
      prev.map(_.parts).getOrElse(Map.empty) ++ touched.map(_ -> next)))
    pruneUpsertState(spark, stateDir)
  }

  /** Task count of one [[upsertBatch]] merge: one task per advisory
    * partition size of the merged bytes, at least one and at most one per
    * touched bucket. Unknown plan sizes are reported as huge, which gives
    * one task per touched bucket. */
  private[graft] def upsertMergeTasks(
      sizeInBytes: BigInt, advisoryBytes: Long, touchedBuckets: Int): Int = {
    val perTask = BigInt(math.max(1L, advisoryBytes))
    val need = (sizeInBytes + perTask - 1) / perTask
    need.max(BigInt(1)).min(BigInt(touchedBuckets)).toInt
  }

  /** Maintenance step for [[upsertSink]]'s state: rewrite ALL live
    * buckets into ⌈bucket rows / targetRecordsPerFile⌉ files as the NEXT
    * version, committed under the same manifest protocol — readers and
    * further [[upsertBatch]] merges are oblivious (identical rows, fewer
    * files), a crash mid-compaction leaves the previous manifest fully
    * readable, and the prune then drops every superseded version dir.
    * Run it between micro-batches (the sink's foreachBatch serializes
    * merges, so schedule compaction when the query is idle or stopped).
    * Returns the compacted parquet file count.
    *
    * Why it matters at scale: incremental merges leave two kinds of
    * drift — small files in hot buckets, and old version dirs kept
    * alive by one cold bucket each. One compaction pass settles both,
    * exactly the table-format OPTIMIZE role. */
  def compactUpsertState(
      spark: SparkSession, stateDir: String,
      targetRecordsPerFile: Long): Long = {
    require(targetRecordsPerFile > 0,
      s"bad target records/file: $targetRecordsPerFile")
    val m = latestUpsertManifest(spark, stateDir).getOrElse(
      throw new IllegalStateException(
        s"no committed upsert state under $stateDir"))
    val next = m.id + 1
    // read per referenced version WITH basePath so the bucket column
    // survives — compaction must not re-derive it (it has no key list)
    val cur = m.parts.groupBy(_._2).toSeq.map { case (v, entries) =>
      spark.read.option("basePath", f"$stateDir/v$v%05d")
        .parquet(entries.keys.toSeq.sorted.map(k =>
          f"$stateDir/v$v%05d/__graft_p=$k"): _*)
    }.reduce(_.unionByName(_))
    cur
      .repartition(m.parts.size, col("__graft_p"))
      .write.mode("overwrite")
      .option("maxRecordsPerFile", targetRecordsPerFile)
      .partitionBy("__graft_p")
      .parquet(f"$stateDir/v$next%05d")
    writeUpsertManifest(spark, stateDir,
      UpsertManifest(next, m.numParts, m.parts.map { case (k, _) =>
        k -> next
      }))
    pruneUpsertState(spark, stateDir)
    val root = new org.apache.hadoop.fs.Path(f"$stateDir/v$next%05d")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(root, true)
    var files = 0L
    while (it.hasNext)
      if (it.next().getPath.getName.endsWith(".parquet")) files += 1
    files
  }

  /** Read the current upsert state ([[upsertSink]]'s output contract):
    * the newest manifest's bucket→version pointers, unioned. */
  def readUpsertState(spark: SparkSession, stateDir: String): DataFrame =
    latestUpsertManifest(spark, stateDir) match {
      case Some(m) if m.parts.nonEmpty =>
        spark.read.parquet(m.parts.toSeq.sorted.map { case (k, v) =>
          f"$stateDir/v$v%05d/__graft_p=$k"
        }: _*)
      case _ => throw new IllegalStateException(
        s"no committed upsert state under $stateDir")
    }

  /** Bucket→version pointers published by one committed merge. */
  private case class UpsertManifest(
      id: Int, numParts: Int, parts: Map[Int, Int])

  private def writeUpsertManifest(
      spark: SparkSession, stateDir: String, m: UpsertManifest): Unit = {
    val dir = new org.apache.hadoop.fs.Path(s"$stateDir/_manifests")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(dir)
    val entries = m.parts.toSeq.sorted
      .map { case (k, v) => s""""p$k":$v""" }.mkString(",")
    val json =
      s"""{"id":${m.id},"num_parts":${m.numParts},"parts":{$entries}}"""
    val out = fs.create(
      new org.apache.hadoop.fs.Path(dir, f"m${m.id}%05d.json"), true)
    try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Committed manifests, ascending by id. */
  private def upsertManifests(spark: SparkSession, stateDir: String)
      : Seq[(Int, org.apache.hadoop.fs.Path)] = {
    val dir = new org.apache.hadoop.fs.Path(s"$stateDir/_manifests")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq
      .filter(_.getPath.getName.matches("m\\d{5}\\.json"))
      .map(st => st.getPath.getName.drop(1).dropRight(5).toInt -> st.getPath)
      .sortBy(_._1)
  }

  private def latestUpsertManifest(
      spark: SparkSession, stateDir: String): Option[UpsertManifest] =
    upsertManifests(spark, stateDir).lastOption.map { case (_, p) =>
      readUpsertManifest(spark, stateDir, p)
    }

  private def readUpsertManifest(spark: SparkSession, stateDir: String,
      path: org.apache.hadoop.fs.Path): UpsertManifest = {
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(path)
    val json =
      try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    def field(name: String): Int =
      s""""$name":(\\d+)""".r.findFirstMatchIn(json).map(_.group(1).toInt)
        .getOrElse(throw new IllegalStateException(
          s"upsert manifest $path missing '$name': $json"))
    val parts = """"p(\d+)":(\d+)""".r.findAllMatchIn(json)
      .map(m => m.group(1).toInt -> m.group(2).toInt).toMap
    UpsertManifest(field("id"), field("num_parts"), parts)
  }

  /** Keep the latest manifest plus its predecessor (the crash-recovery
    * fallback); delete older manifests, and every version dir neither of
    * the two still points at. Bucket granularity means a version dir
    * lives while ANY bucket references it — [[compactUpsertState]]
    * repoints all buckets and so releases everything older. */
  private def pruneUpsertState(
      spark: SparkSession, stateDir: String): Unit = {
    val manifests = upsertManifests(spark, stateDir)
    if (manifests.isEmpty) return
    val root = new org.apache.hadoop.fs.Path(stateDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val keep = manifests.takeRight(2)
    manifests.dropRight(2).foreach { case (_, p) => fs.delete(p, false) }
    val referenced = keep
      .flatMap { case (_, p) =>
        readUpsertManifest(spark, stateDir, p).parts.values
      }.toSet
    fs.listStatus(root).toSeq
      .filter { st =>
        val n = st.getPath.getName
        st.isDirectory && n.matches("v\\d{5}") &&
          !referenced.contains(n.drop(1).toInt)
      }
      .foreach(st => fs.delete(st.getPath, true))
  }
}
