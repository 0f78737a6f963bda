package graft.operators

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis._

/** The end-to-end curation pipeline as a first-class operator — the
  * composition every training-data pass runs, wired with per-stage
  * observability.
  *
  * Stages: repetition screen → near-duplicate removal (MinHash+LSH,
  * keep the smallest id) → optional benchmark decontamination (when a
  * probe suite is passed) → quality threshold → language filter →
  * optional span cut → PII redaction → deterministic split assignment.
  * `q_t17_pipeline` certifies the core composition against a DuckDB
  * oracle; this operator is the reusable API surface for it.
  *
  * Two deliberate semantics to know before reusing:
  *  - Near-dup LOSERS are decided on the FULL corpus, not the
  *    post-screen survivors: dedup verdicts stay stable when quality/
  *    language thresholds are tuned, at the cost that a pair whose
  *    keeper (smallest id) fails a later screen loses both copies. If
  *    keep-at-least-one-copy matters more than verdict stability,
  *    re-run the pair search on the filtered corpus instead.
  *  - Documents with fewer than 2 tokens (or null text) have no
  *    repetition statistic and drop at stage 1 — unscoreable is treated
  *    as unsafe. Pre-filter them around the pipeline if they should
  *    survive.
  *  - `id` must be unique. Every verdict set names documents by id, so
  *    documents sharing one share every verdict, and the id join of the
  *    optional span cut would multiply their rows. The pipeline does not
  *    check this: a check would cost a job per run.
  *
  * Verdicts are flags, not filters. Every document gets one flag column
  * per screen: repetition (a null id fails it), near-dup loser,
  * contaminated, and the final screens (LM, Gopher, NB, quality,
  * language), and one filter after the observation below applies them
  * all. Spark pushes no filter through an observation, so the
  * repetition screen is not pushed below the joins, where it would run
  * in a generated stage of its own before the shuffle (and shift the
  * near-dup sub-plan's codegen stage ids away from those the standalone
  * [[Dedup.minHashLshPairs]] compiles).
  *
  * The near-dup losers, the contaminated ids and the LM keepers are each
  * tested with `id IN (set)`, which Spark plans as an existence join: it
  * adds one boolean column and keeps the left side one-to-one however
  * often an id repeats on the right. The column is false, not null, for
  * an id the set lacks even when the set holds a null (a contaminated
  * document with no id), so such a null drops no other row, as under
  * the left-anti join (CurationFunnelSpec). Filtering on the flag then
  * keeps the rows a left-anti join (losers, contaminated) or a left-semi
  * join (LM keepers) keeps, so none of these sets is made distinct,
  * which would add an aggregate, an exchange and a job.
  *
  * Observability: the funnel rides as ONE
  * [[org.apache.spark.sql.Observation]] over the flagged frame, just
  * before the one filter that applies every flag. Its four metrics are
  * `count_if` of the flag prefixes (rows after repetition, after
  * near-dup removal, after decontamination, after the final screens),
  * accumulator-backed and collected DURING the one pass that computes
  * the result: no extra job runs. After any action on the returned
  * frame, `result.stageRows` yields the funnel. At 100 TB the
  * alternative (a count() per stage) would re-run the upstream pipeline
  * once per stage. An observation sits outside whole-stage codegen and
  * splits its stage, so the pipeline has one, not one per stage.
  */
object Curation {

  /** Thresholds for each screen; defaults match `q_t17_pipeline`.
    *
    * `spanCutMinDocs = Some(k)` additionally rewrites the emitted
    * `clean_text` through [[Dedup.cutDuplicatedSpans]] (tokens covered by
    * a trigram span held by ≥ k documents are removed — Lee et al.'s cut,
    * certified standalone as q_d11) BEFORE redaction. The screens
    * (repetition / quality / language) still judge the ORIGINAL text, for
    * the same verdict-stability reason near-dup losers are decided on the
    * full corpus: tuning the cut never flips who survives, only what the
    * survivors' text looks like. */
  /** `lmXentMax = Some(cap)` adds the CCNet-style statistical LM screen:
    * a bigram LM trains on the FULL corpus ([[TextAnalysis.lmScore]],
    * minCount = 2) and documents whose cross-entropy exceeds `cap` drop
    * with the quality/language filters. Like every verdict set the score
    * is computed on the full corpus, so tuning other screens never moves
    * anyone's xent; documents with < 2 tokens are unscoreable and drop
    * (they already fail the repetition screen for the same reason). */
  /** `gopherScreen = true` additionally requires
    * [[TextAnalysis.gopherVerdict]] (paper-default thresholds) to pass —
    * a pure Column conjunction folded into the final filter stage, so it
    * adds no pass and no shuffle. Custom thresholds: screen with
    * [[TextAnalysis.gopherRules]] around the pipeline instead. */
  /** `maxPerSource = Some((srcCol, cap))` prepends the per-domain cap
    * ([[TextAnalysis.capPerKey]], certified standalone as q_t30): at most
    * `cap` documents per `srcCol` value ENTER the pipeline, chosen by the
    * deterministic id hash. A corpus-definition stage, so it runs first —
    * every downstream verdict set (dedup pairs, LM scores, span
    * verdicts) is computed on the capped corpus, and the cap rank needs
    * only an (id, src) projection, never a re-run of the heavy stages.
    * The funnel's first count already reflects it. */
  /** `urlDedup = Some(urlCol)` adds the second corpus-definition stage
    * (after the cap): one page fetched under many URL spellings enters
    * the pipeline once. Documents are grouped by
    * [[TextAnalysis.canonicalUrl]] of `urlCol` — certified standalone as
    * q_t40 — keeping the smallest id per canonical form; rows whose URL
    * does not canonicalize (null) all survive, because a shared null is
    * not a shared page. The exchange carries an md5 of the canonical
    * string (the [[Dedup.exactGroups]] digest precedent), and like the
    * cap it needs only an (id, url) projection. The funnel's first count
    * reflects it. */
  final case class Config(
      repetitionDropAt: Double = 0.05,
      nearDupThreshold: Double = 0.8,
      minQuality: Double = 0.5,
      lang: String = "en",
      spanCutMinDocs: Option[Int] = None,
      decontamMinContainment: Double = 0.8,
      decontamNgram: Int = 3,
      lmXentMax: Option[Double] = None,
      gopherScreen: Boolean = false,
      maxPerSource: Option[(String, Int)] = None,
      urlDedup: Option[String] = None,
      /** Alias→canonical URL mapping ([[Outlinks.canonicalMapping]]
        * output: `alias_url`, `canonical_url`) applied to the
        * url-dedup KEY — only meaningful with `urlDedup`. The crawl's
        * own redirect-chain + rel=canonical signals then collapse a
        * page's alias spellings onto one dedup key, so a document
        * captured under `/old` and its redirect target enters the
        * corpus ONCE (q_t78's frontier semantics applied to corpus
        * definition). Matching follows the frontier convention: the
        * URL is [[TextAnalysis.canonicalUrl]]-normalized first, then
        * rewritten through the mapping; the visible url column is NOT
        * modified — only the dedup key. */
      urlCanonicalMap: Option[org.apache.spark.sql.DataFrame] = None,
      /** Trained [[TextAnalysis.NbQualityModel]] screen: keep documents
        * whose NB score ≥ the threshold (0.0 = the classifier's own
        * decision boundary). Train with [[TextAnalysis.trainQualityNb]]
        * on a curated-vs-crawl labeled frame, then screen the crawl —
        * a pure Column fold, fused into the final filter stage. */
      nbScreen: Option[(TextAnalysis.NbQualityModel, Double)] = None,
      /** Front stage: the input `text` column is raw HTML — rewrite it
        * through [[TextAnalysis.extractText]] (certified standalone as
        * q_t43) BEFORE anything else runs, so every screen, verdict set
        * and the emitted `clean_text` judge extracted text, never markup.
        * A pure codegen'd Column rewrite fused into the first scan — no
        * extra pass, no shuffle. */
      htmlExtract: Boolean = false,
      /** How the DEFINED corpus (post cap/URL-dedup) is materialized so
        * the ~6 downstream verdict passes don't each re-run the
        * rank/join chain. The trade is fault tolerance, not semantics —
        * all three modes produce identical output:
        *  - [[Materialize.LocalCheckpoint]] (default): executor block
        *    storage, lineage TRUNCATED — cheapest, but an executor loss
        *    mid-job FAILS the job instead of recomputing. Right for
        *    local / short interactive runs.
        *  - [[Materialize.PersistDisk]]: `DISK_ONLY` persist with
        *    lineage retained — an executor loss recomputes only the
        *    lost partitions. The 1000-executor default.
        *  - [[Materialize.ReliableCheckpoint]]: writes to
        *    `sparkContext.getCheckpointDir` (caller must have set an
        *    HDFS/object-store dir) — survives executor loss AND frees
        *    the lineage; for very long pipelines over flaky fleets. */
      materialize: Materialize = Materialize.LocalCheckpoint)

  /** Materialization strategy for the defined corpus — see
    * [[Config.materialize]] for the failure-semantics trade. */
  sealed trait Materialize
  object Materialize {
    case object LocalCheckpoint extends Materialize
    case object PersistDisk extends Materialize
    case object ReliableCheckpoint extends Materialize
  }

  /** Curated corpus + the stage funnel. `df` has columns
    * (id, pred_lang, quality, split, clean_text); the funnel resolves
    * after the first action on `df`. The decontamination stage count
    * equals the dedup count when the pipeline ran without probes. */
  final case class Result(df: DataFrame, funnel: Observation) {
    /** Rows surviving each stage, in order. Call after an action. */
    def stageRows: Seq[(String, Long)] = {
      val m = funnel.get
      Stages.map(s => s -> m(s).asInstanceOf[Long])
    }
  }

  /** The funnel's stage names, in order; each is a metric of
    * [[Result.funnel]]. */
  val Stages: Seq[String] = Seq("repetition_screen", "near_dup_removal",
    "decontamination", "quality_lang_filters")

  /** @param probes benchmark/eval suite to decontaminate against: any
    *        document whose shingles contain a probe document at ≥
    *        `cfg.decontamMinContainment` (shingle width
    *        `cfg.decontamNgram`) is dropped after dedup — the
    *        [[Decontaminate.contamination]] screen as a pipeline stage.
    *        The probe frame must have the same (id, text) columns and
    *        stays benchmark-sized (its shingles broadcast). None skips
    *        the stage (its funnel count then equals dedup's). */
  def pipeline(
      docs0In: DataFrame, id: String, text: String,
      cfg: Config = Config(),
      probes: Option[DataFrame] = None): Result = {
    // HTML front stage: from here on, `text` means EXTRACTED text
    val docs = if (cfg.htmlExtract)
      docs0In.withColumn(text, TextAnalysis.extractText(col(text)))
    else docs0In
    // per-domain cap first: redefines the corpus every verdict set sees
    val capped = cfg.maxPerSource match {
      case Some((srcCol, cap)) =>
        docs.join(
          TextAnalysis.capPerKey(docs.select(col(id), col(srcCol)),
            id, srcCol, cap).select(col(id)),
          Seq(id))
      case None => docs
    }
    // canonical-URL dedup second — still corpus definition: one page
    // under many URL spellings enters once (keep the smallest id; rows
    // with no canonicalizable URL all survive)
    val defined = cfg.urlDedup match {
      case Some(urlCol) =>
        // frontier convention: canonicalUrl normalization FIRST, then
        // the alias→canonical mapping (its keys are canonical forms),
        // and only the dedup KEY sees either — output columns keep
        // the original url value
        val urlRows0 = capped.select(col(id),
          TextAnalysis.canonicalUrl(col(urlCol)).as("__graft_canon_u"))
        val urlRows = cfg.urlCanonicalMap match {
          case Some(m) => Outlinks.applyCanonical(urlRows0,
            "__graft_canon_u", m, "alias_url", "canonical_url")
          case None => urlRows0
        }
        val keyed = urlRows.select(col(id),
          md5(col("__graft_canon_u").cast("binary"))
            .as("__graft_canon_h"))
        val keepers = keyed.filter(col("__graft_canon_h").isNotNull)
          .groupBy("__graft_canon_h").agg(min(col(id)).as(id))
          .select(col(id))
        capped.join(
          keyed.filter(col("__graft_canon_h").isNull).select(col(id))
            .unionByName(keepers),
          Seq(id))
      case None => capped
    }
    // every verdict set below (repetition, dedup pairs, LM scores, span
    // verdicts, the emit join) re-reads the corpus: when a corpus-
    // definition stage is active, `defined` is a multi-stage rank/join
    // plan, and recomputing it once per consumer would re-run the cap
    // and URL-dedup ~6x — at 100 TB, six redundant passes. Materialize
    // the defined corpus ONCE; HOW is the fault-tolerance knob
    // Config.materialize — with no corpus-definition stage the input is
    // a plain scan and stays lazy.
    val docs0 =
      if (cfg.maxPerSource.isDefined || cfg.urlDedup.isDefined)
        cfg.materialize match {
          case Materialize.LocalCheckpoint => defined.localCheckpoint()
          case Materialize.PersistDisk => defined.persist(
            org.apache.spark.storage.StorageLevel.DISK_ONLY)
          case Materialize.ReliableCheckpoint =>
            require(
              defined.sparkSession.sparkContext.getCheckpointDir.isDefined,
              "Materialize.ReliableCheckpoint needs " +
                "sparkContext.setCheckpointDir(<hdfs/object-store dir>)")
            defined.checkpoint()
        }
      else defined
    // repetition screen INLINE (r22, guide §6 read amplification): the
    // statistic is per-document, so judging it as a flag in the emit
    // chain removes one full corpus pass + an id join — at 100 TB one
    // fewer corpus read per pipeline run. Same kernel as
    // [[TextAnalysis.repetitionScreen]] (whose standalone certification
    // is untouched), same verdict semantics: < 2 tokens or top-bigram
    // share ≥ dropAt drops. The screen stays threshold-independent of
    // every verdict set below (those still compute on docs0).
    val repDropAt = cfg.repetitionDropAt
    val repKeep = udf { (t: String) =>
      TextAnalysis.repetitionJudgment(t, repDropAt).exists(_._3)
    }
    // no distinct on any id set: each only feeds an existence join
    val losers = Dedup
      .minHashLshPairs(docs0, id, text, cfg.nearDupThreshold)
      .select(col("doc_b").as(id))
    // contaminated ids, decided on the FULL corpus like every verdict set
    val contaminated = probes.map { p =>
      // one frame, probes tagged by a column: reuses the single-operator
      // screen (probe side broadcast, corpus side streamed)
      val tagged = docs0.select(col(id), col(text), lit(false).as("__probe"))
        .unionByName(
          p.select(col(id), col(text), lit(true).as("__probe")))
      Decontaminate.contamination(tagged, id, text,
          probePred = col("__probe"), cfg.decontamMinContainment,
          n = cfg.decontamNgram)
        .select(col("doc_id").as(id))
    }
    // LM screen (optional): scored on the FULL corpus like every verdict
    // set; fluent ids keep their row, unscoreable ones drop
    val lmKeep = cfg.lmXentMax.map { cap =>
      lmScore(docs0, id, text, minCount = 2)
        .filter(col("xent") <= cap).select(col(id))
    }
    // span cut (optional): computed on the FULL corpus — duplicated-span
    // verdicts, like dedup losers, must not depend on screen thresholds
    val withEmitText = cfg.spanCutMinDocs match {
      case Some(k) =>
        val cut = Dedup.cutDuplicatedSpans(docs0, id, text, k)
          .select(col("doc_id").as(id), col("clean_text").as("__emit"))
        docs0.join(cut, Seq(id))
      case None => docs0.withColumn("__emit", col(text))
    }
    val rep = col("__rep")
    val dedup = rep && !col("__near")
    val clean = dedup && !col("__cont")
    val funnel = Observation()
    val out = withEmitText
      .select(Seq(col(id), col(text), col("__emit"),
        // the repetition screen is a flag too: as a filter, Spark would
        // push it below the joins into a stage of its own. The null-id
        // guard preserves the former join-on-id semantics exactly: a
        // null id never matched the keep-id set, so it never survived
        (col(id).isNotNull && repKeep(col(text))).as("__rep"),
        col(id).isin(losers).as("__near"),
        contaminated.fold(lit(false))(col(id).isin(_)).as("__cont"),
        lmKeep.fold(lit(true))(col(id).isin(_)).as("__lm"),
        langId(col(text)).as("pred_lang"),
        qualityScore(col(text)).as("quality")) ++
        // Gopher rules read the token array several times: materialize
        // it once as a column (lambda-CSE trap)
        (if (cfg.gopherScreen) Seq(tokens(col(text)).as("__gt"))
        else Nil): _*)
      // final screens, all judged on the ORIGINAL text: Gopher rules and
      // the trained NB score are pure Column folds in the same stage
      .withColumn("__final", col("__lm")
        && (if (cfg.gopherScreen)
          gopherVerdictFrom(col(text), col("__gt")) === lit("keep")
        else lit(true))
        && cfg.nbScreen.fold(lit(true)) { case (m, thr) =>
          m.score(col(text)) >= thr
        }
        && col("quality") >= cfg.minQuality
        && col("pred_lang") === cfg.lang)
      .observe(funnel,
        count_if(rep).as(Stages(0)),
        count_if(dedup).as(Stages(1)),
        count_if(clean).as(Stages(2)),
        count_if(clean && col("__final")).as(Stages(3)))
      // above the observation, which no filter is pushed through
      .filter(clean && col("__final"))
      .select(col(id), col("pred_lang"), col("quality"),
        deterministicSplit(col(id)).as("split"),
        redact(col("__emit")).as("clean_text"))
    Result(out, funnel)
  }
}
