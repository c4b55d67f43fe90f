package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.model.BoosterModel
import graft.predict.Predictor

/** Streaming inference (SURVEY §2.9): the reference has no streaming
  * semantics — training continuation + callbacks are its nearest notion —
  * but scoring a stream falls out of the Spark-first design for free: the
  * same codegen [[graft.predict.TreePredict]] expression evaluates
  * unchanged inside a Structured Streaming micro-batch plan (`readStream`
  * → transform → `writeStream`), the flattened model riding along as a
  * plan reference object. No per-batch model shipping, no state store —
  * scoring is stateless row-at-a-time work, so watermarks/output modes
  * stay whatever the surrounding query needs. */
object StreamingScorer {

  /** Append prediction columns to a (streaming or batch) DataFrame:
    * `prediction` always; `margin` for single-output models;
    * `rawPrediction`/`probability` vectors for multiclass. */
  def score(df: DataFrame, model: BoosterModel,
      featuresCol: String = "features"): DataFrame =
    Predictor.transform(df, model, featuresCol)

  /** Windowed streaming metric: per event-time window mean prediction +
    * count (the watermarked-aggregation shape a streaming eval pipeline
    * uses; elementwise metrics compose the same way). */
  def windowedMeanPrediction(scored: DataFrame, timeCol: String,
      window: String, watermark: String): DataFrame =
    scored
      .withWatermark(timeCol, watermark)
      .groupBy(org.apache.spark.sql.functions.window(col(timeCol), window))
      .agg(count(lit(1)).as("n"), avg(col("prediction")).as("mean_prediction"))
}

/** A closed user session emitted by [[StreamingSessionizer]]. */
final case class SessionUpdate(userId: Long, startSec: Long, endSec: Long,
    nEvents: Long)

private final case class SessionState(startSec: Long, lastSec: Long, nEvents: Long)
private final case class SessionSetState(sessions: Seq[SessionState])

/** Gap-based sessionization with CUSTOM STATE
  * (`flatMapGroupsWithState`, event-time timeout) — the streaming twin of
  * the batch `e_sessionize` query ([[graft.queries.EventQueries]]). State is
  * the set of TENTATIVE sessions per user (interval-merged, kept sorted,
  * mutually more than `gapSec` apart); a session is emitted only once the
  * event-time WATERMARK passes `last + gap`, at which point no event that
  * could still extend or bridge it can arrive.
  *
  * == Event-time disorder contract ==
  *  - Disorder BOUNDED BY THE WATERMARK DELAY is fully REORDERED: the
  *    emitted sessions equal the batch operator's on the same event
  *    multiset, for ANY arrival order/batching of the events (asserted by
  *    `StreamingSpec`'s shuffled-delivery parity case). This holds because
  *    an event merges into the tentative set in event-time position
  *    (including extending a session's START backward or bridging two
  *    tentative sessions into one), and emission waits for the watermark
  *    to seal the session: an event that could still merge has
  *    `ts ≤ last + gap < watermark` and would have been dropped as late.
  *  - Events LATER THAN THE WATERMARK are DROPPED before the operator by
  *    Spark's late-row filter (standard watermark semantics); they affect
  *    nothing — never a corrupted or out-of-range session.
  *  - Granularity: timestamps are floored to epoch-SECONDS (identical to
  *    the batch oracle's `epoch_ns // 1000000000`), so the two engines
  *    compare session boundaries at the same resolution.
  *
  * State is partitioned by user across the cluster by the state store —
  * the same `user_id` keying the batch window uses, so both scale
  * identically; per-user state is O(sessions inside the watermark
  * horizon), the same bound Spark's own streaming aggregation state has. */
object StreamingSessionizer {
  import org.apache.spark.sql.{Dataset, Encoders}
  import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

  /** events: (user_id: Long, ts: Timestamp). Returns watermark-sealed sessions. */
  def sessionize(events: DataFrame, gapSec: Long, watermark: String): Dataset[SessionUpdate] = {
    implicit val updEnc = Encoders.product[SessionUpdate]
    implicit val longEnc = Encoders.scalaLong
    // the WATERMARKED ts column must flow into the state operator (the
    // unsupported-operation checker rejects event-time timeout otherwise),
    // so keep the timestamp typed and convert to seconds inside the group fn
    implicit val rowEnc = Encoders.product[(Long, java.sql.Timestamp)]
    val stateEnc = Encoders.product[SessionSetState]
    val typed = events
      .withWatermark("ts", watermark)
      .select(col("user_id").cast("long").as("user_id"), col("ts"))
      .as[(Long, java.sql.Timestamp)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[SessionSetState, SessionUpdate](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        (user: Long, rowsTs: Iterator[(Long, java.sql.Timestamp)],
            st: GroupState[SessionSetState]) => {
          val wmMs = st.getCurrentWatermarkMs()
          var sessions: List[SessionState] =
            st.getOption.map(_.sessions.toList).getOrElse(Nil)
          if (!st.hasTimedOut) {
            val secs = rowsTs.map(_._2.getTime / 1000L).toArray
            java.util.Arrays.sort(secs)
            // interval-merge each event into the sorted tentative set; an
            // event within gap of two adjacent sessions BRIDGES them
            secs.foreach { sec =>
              val (left, rest) = sessions.span(s => s.lastSec + gapSec < sec)
              val (merge, right) = rest.span(s => s.startSec - gapSec <= sec)
              val m =
                if (merge.isEmpty) SessionState(sec, sec, 1L)
                else SessionState(math.min(merge.head.startSec, sec),
                  math.max(merge.last.lastSec, sec),
                  merge.iterator.map(_.nEvents).sum + 1L)
              sessions = left ::: (m :: right)
            }
          }
          // seal check: once floor(wm/1000) > last+gap, no arriving event
          // (all have ts ≥ watermark) can merge — safe to emit
          val (sealed0, open) =
            sessions.partition(s => wmMs / 1000L > s.lastSec + gapSec)
          if (open.nonEmpty) {
            st.update(SessionSetState(open))
            // wake when the watermark can first seal the earliest session;
            // open sessions satisfy (last+gap+1)*1000 > wm, so this is a
            // legal (strictly-future) event-time timeout
            st.setTimeoutTimestamp(
              (open.iterator.map(_.lastSec).min + gapSec + 1) * 1000L)
          } else st.remove()
          sealed0.iterator.map(s =>
            SessionUpdate(user, s.startSec, s.lastSec, s.nEvents))
        })(stateEnc, updEnc)
  }
}

/** Streaming twin of the batch conversion funnel
  * ([[graft.queries.EventQueries.funnel]]): per-user state = the stage
  * times confirmed so far plus a buffer of not-yet-sealed stage events;
  * an event advances the funnel iff it is the next expected stage and
  * strictly after the previous stage time.
  *
  * == Event-time disorder contract ==
  *  - Incoming stage events are BUFFERED in state and folded into the
  *    funnel only once the event-time WATERMARK passes them, in global
  *    event-time order. Disorder bounded by the watermark delay is
  *    therefore fully REORDERED: completions equal the batch funnel's
  *    completers for ANY arrival order/batching (a later-delivered
  *    earlier-stage event still lands before the later stages —
  *    asserted by `StreamingSpec`'s shuffled-delivery case).
  *  - Events LATER THAN THE WATERMARK are DROPPED before the operator
  *    by Spark's late-row filter: a funnel stage whose event arrives
  *    beyond the watermark is simply never reached (no partial/corrupt
  *    completion), matching standard watermark semantics.
  *  - Granularity: ordering decisions compare FULL timestamp precision
  *    (epoch-nanos as carried by Spark's TimestampType, i.e. exact to
  *    the microsecond — the same precision the batch funnel's
  *    `epoch_ns` comparisons see), so batch/stream parity has no
  *    truncation bound; the emitted first/last times are floored to ms
  *    for the output schema only.
  *  - One completion per funnel traversal: state is dropped on
  *    completion (per-user state is O(K + buffered-in-watermark) and
  *    completed users cost nothing thereafter), so a user who re-runs
  *    the whole funnel AFTER completing emits again, where the batch
  *    operator reports only the first traversal. Parity therefore
  *    compares one-traversal users (the testdata shape).
  */
object StreamingFunnel {
  import org.apache.spark.sql.{Dataset, Encoders}
  import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

  /** events: (user_id: Long, ts: Timestamp, event_type: String).
    *
    * `idleTtlMs` bounds per-user state for users who never complete: a
    * user with PARTIAL progress and nothing buffered is evicted once
    * the event-time watermark advances `idleTtlMs` past their last
    * ACCEPTED stage event — the deadline derives from funnel progress
    * itself, so a stream of irrelevant or non-advancing event types
    * cannot keep refreshing it (pre-r12 this path registered NO timeout, so abandoned
    * partial funnels were retained forever — state grew with the user
    * population, the one unbounded-state path in the operator). Losing
    * evicted progress is the streaming-correct trade: an event arriving
    * after the TTL restarts that user's funnel from stage 1, exactly as
    * if they were new. Event-time TTL, so replaying history cannot
    * mass-evict on processing-time gaps. */
  def funnel(events: DataFrame, stages: Seq[String],
      watermark: String, idleTtlMs: Long = 7L * 24 * 3600 * 1000)
      : Dataset[FunnelCompletion] = {
    require(stages.nonEmpty, "need at least one funnel stage")
    require(idleTtlMs > 0, "idleTtlMs must be positive")
    implicit val outEnc = Encoders.product[FunnelCompletion]
    implicit val longEnc = Encoders.scalaLong
    implicit val rowEnc = Encoders.product[(Long, java.sql.Timestamp, String)]
    val stateEnc = Encoders.product[FunnelState]
    val k = stages.length
    val stageIdx = stages.zipWithIndex.toMap
    val typed = events
      .withWatermark("ts", watermark)
      .select(col("user_id").cast("long").as("user_id"), col("ts"),
        col("event_type").cast("string"))
      .as[(Long, java.sql.Timestamp, String)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[FunnelState, FunnelCompletion](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp, String)],
            st: GroupState[FunnelState]) => {
          val wmNs = st.getCurrentWatermarkMs() * 1000000L
          var s = st.getOption.getOrElse(
            FunnelState(Vector.empty, Vector.empty, Vector.empty))
          if (!st.hasTimedOut) {
            // buffer this batch's stage events (non-stage types dropped)
            rows.foreach { r =>
              stageIdx.get(r._3).foreach { si =>
                val ns = r._2.getTime / 1000L * 1000000000L + r._2.getNanos
                s = FunnelState(s.times, s.pendNs :+ ns, s.pendStage :+ si)
              }
            }
          }
          // fold the events the watermark has sealed, in event-time order
          // (stage-index tiebreak for determinism; equal-time events can
          // never both advance — the strictly-after rule matches batch)
          val (ready, hold) = s.pendNs.zip(s.pendStage).partition(_._1 < wmNs)
          var times = s.times
          var done = false
          ready.sorted.foreach { case (ns, si) =>
            if (!done && si == times.length && (times.isEmpty || ns > times.last)) {
              times = times :+ ns
              done = times.length == k
            }
          }
          val out = scala.collection.mutable.ArrayBuffer.empty[FunnelCompletion]
          if (done) {
            out += FunnelCompletion(user, times.head / 1000000L,
              times.last / 1000000L)
            st.remove()
          } else if (times.isEmpty && hold.isEmpty) {
            st.remove()
          } else if (st.hasTimedOut && ready.isEmpty && hold.isEmpty) {
            // idle-TTL expiry: a timeout wake with NOTHING sealed this
            // call means it was the idle deadline (a buffer wake always
            // seals its trigger event into `ready`; a batch with new
            // events is not a timeout call) — the user made partial
            // progress, then no events for idleTtlMs of event time.
            // Evict; a later event restarts them from stage 1.
            st.remove()
          } else {
            val (pn, ps) = hold.unzip
            st.update(FunnelState(times, pn, ps))
            // wake when the watermark can first seal the earliest buffered
            // event (buffered events satisfy ns ≥ wm so this is legal);
            // with an empty buffer, wake at the idle deadline: idleTtlMs of
            // EVENT TIME past the user's last ACCEPTED stage event
            // (times.last — this branch implies times.nonEmpty, the
            // times-and-hold-both-empty case removed state above). The
            // deadline is a pure function of accepted progress, so batches
            // of non-stage or non-advancing events cannot keep refreshing
            // it — a user spamming irrelevant event types still expires.
            // Clamped one past the watermark when already overdue (Spark
            // rejects timeouts at or before the current watermark); the
            // clamp fires the eviction on the next timeout sweep.
            if (pn.nonEmpty) st.setTimeoutTimestamp(pn.min / 1000000L + 1)
            else st.setTimeoutTimestamp(
              math.max(times.last / 1000000L + idleTtlMs,
                st.getCurrentWatermarkMs() + 1))
          }
          out.iterator
        })(stateEnc, outEnc)
  }
}

final case class FunnelCompletion(userId: Long, firstMs: Long, lastMs: Long)
private final case class FunnelState(times: Vector[Long],
    pendNs: Vector[Long], pendStage: Vector[Int])

/** Streaming ingestion gate for a continuous document feed — the
  * LLM-data-pipeline operators ([[graft.ext.TextOps]] quality/language
  * heuristics, content-hash exact dedup) applied at the `readStream`
  * boundary, where a 100 TB corpus actually arrives. The SAME batch column
  * expressions evaluate inside the micro-batch plan (no forked logic to
  * drift), and dedup state is Spark's watermark-scoped duplicate store
  * keyed by the content hash — partitioned exactly like the batch
  * `Dedup.exactDedup` hash-groupBy, with the watermark bounding state
  * instead of unbounded history (the streaming-correct trade: duplicates
  * farther apart than the watermark pass through and are caught by the
  * periodic batch dedup sweep).
  */
object StreamingIngest {
  import graft.ext.TextOps

  /** Gate + dedup a streaming document feed. Emits the surviving rows with
    * their `content_hash`, `n_tokens`, `quality`, `en_ratio`,
    * `top_bigram_frac` columns.
    *
    * docs: streaming DataFrame with event-time `tsCol` and text `textCol`.
    * The quality/language thresholds mirror the batch `p_quality` /
    * `p_lang_id` heuristics; the repetition gate mirrors the batch
    * Gopher rule (`CorpusFilters.repetitionStats` top-bigram fraction)
    * via the shuffle-free array expression `TextOps.topNgramFraction` —
    * the whole gate stays a stateless projection ahead of the
    * watermark-scoped dedup (default 1.0 = off, matching pre-existing
    * feeds that tuned only quality).
    *
    * `nearDupHashes` > 0 upgrades the dedup key from the exact content
    * hash to a k-hash MinHash signature (`Dedup.withMinhashSignature`,
    * bit-identical slot math to the batch miner): documents whose SHINGLE
    * SETS coincide — reordered, re-wrapped, or boilerplate-identical text
    * — collapse even when their bytes differ. Signature equality is the
    * AND over all k hashes (P = J^k), so this is the near-exact tier of
    * near-dedup; the WITHIN-stream banded OR-semantics tier (catching
    * J ≈ 0.8 between two feed docs) stays a batch sweep
    * (`Dedup.nearDupPairs`) because any-band matching needs cross-key
    * state that a single watermark-scoped dedup cannot hold — but
    * against a STATIC prior snapshot the banded tier IS stateless, and
    * `nearDupBands` > 0 turns it on (the streaming twin of
    * `Dedup.incrementalBandedNearDedup`; see the inline note).
    * Exact duplicates have equal signatures, so the exact tier is
    * subsumed; `content_hash` stays in the output for audit.
    *
    * `priorDocs` (a STATIC, already-curated corpus snapshot) switches on
    * the cross-snapshot tier. The static side of every stream-static
    * join is re-evaluated each micro-batch, so long-running streams
    * should pass an already-persisted (or pre-materialized parquet)
    * snapshot — the key/bucket projections derived here are plans over
    * it, not cached tables. It is the streaming twin of
    * [[graft.ext.Dedup.incrementalDedup]]: surviving rows are checked
    * against the snapshot via a stream-static join on THE SAME KEY the
    * within-stream dedup uses (exact content hash, or the minhash
    * signature key when `nearDupHashes` > 0 — a feed doc merely
    * signature-equal to a snapshot doc must not re-enter either). Only
    * the key projection of the snapshot enters the stream plan, never
    * its text. Runs BEFORE the watermark-scoped within-stream dedup,
    * shrinking that state. Spark's stream-static support has no
    * left_anti, so this is the equivalent left_outer + null filter. */
  def cleanDocuments(docs: DataFrame, textCol: String = "text",
      tsCol: String = "ts", watermark: String = "10 minutes",
      minTokens: Int = 5, minQuality: Double = 0.2,
      maxTopBigramFrac: Double = 1.0, nearDupHashes: Int = 0,
      fixUnicode: Boolean = false, c4: Boolean = false,
      redactPii: Boolean = false,
      priorDocs: Option[DataFrame] = None,
      nearDupBands: Int = 0, nearDupBandedThreshold: Double = 0.8,
      nearDupBandedMaxBucket: Int = 1000,
      nearDupPriorSigs: Option[DataFrame] = None,
      blockWords: Seq[String] = Seq.empty,
      priorKeys: Option[DataFrame] = None,
      priorCanonKeys: Option[DataFrame] = None): DataFrame = {
    require(docs.isStreaming,
      "cleanDocuments is the streaming twin; batch feeds use Dedup.exactDedup + the p_quality filters")
    // `priorCanonKeys` (a persisted Dedup.canonicalKeys projection)
    // switches on the NORMALIZED tier — the streaming twin of
    // incrementalCrawlGate's priorCanonKeys slot: a feed doc whose
    // md5(canonicalText) matches the snapshot (case-drift / punctuation-
    // churn replica — different bytes AND different shingles, invisible
    // to every other tier) is dropped via a stateless stream-static
    // anti-join, and within-stream canonical twins collapse under the
    // watermark. The key is one map-side expression; no shingles.
    priorCanonKeys.foreach { ck =>
      require(!ck.isStreaming, "priorCanonKeys must be a static snapshot")
      require(ck.columns.toSeq == Seq("_key"),
        "priorCanonKeys must be a canonicalKeys projection (single " +
          "`_key` column); got " + ck.columns.mkString(", "))
    }
    // loud-reject EVERY column this gate appends or stages, scoped to
    // the tiers actually switched on: a feed already carrying one would
    // either be silently clobbered (withColumn) or die mid-plan with an
    // undiagnostic ambiguous-column AnalysisException (the join-staged
    // flags like _seen/_canon_seen) — same contract as
    // Dedup.requireNoReserved / UrlOps.requireNoClobber
    val staged =
      Seq("content_hash", "n_tokens", "quality", "en_ratio",
        "top_bigram_frac") ++
      (if (c4) Seq("n_lines", "n_kept", "page_keep", "clean_text")
       else Nil) ++
      (if (nearDupHashes > 0) Seq("minhash_sig", "dedup_key") else Nil) ++
      (if (priorDocs.nonEmpty || priorKeys.nonEmpty) Seq("_seen")
       else Nil) ++
      (if (priorCanonKeys.nonEmpty) Seq("_canon_key", "_canon_seen")
       else Nil) ++
      (if (nearDupBands > 0)
        "_bkeys" +: (0 until nearDupBands).flatMap(i => Seq(s"_k$i", s"_ps$i"))
       else Nil)
    staged.foreach { c =>
      require(!docs.columns.contains(c),
        s"the feed already carries a column named $c — cleanDocuments " +
          "appends/stages gate state there and the input would be " +
          "silently overwritten (or die with an ambiguous-column error " +
          "at query start); rename the input column")
    }
    // `priorKeys` is the persisted-projection form of the snapshot gate
    // (the streaming twin of Dedup.incrementalDedupKeys /
    // incrementalNearDedup-over-nearDupKeys): a single-`_key` table —
    // exactKeys when nearDupHashes == 0, nearDupKeys(k = nearDupHashes)
    // otherwise, the SAME tier pairing as batch — so a long-running
    // stream never reads snapshot text at all. Pair with
    // `nearDupPriorSigs` for the banded tier and the whole gate runs
    // from persisted projections. Mutually exclusive with `priorDocs`
    // (which derives the key projection from text).
    priorKeys.foreach { pk =>
      require(!pk.isStreaming, "priorKeys must be a static snapshot")
      require(pk.columns.toSeq == Seq("_key"),
        "priorKeys must be a key projection (single `_key` column); got " +
          pk.columns.mkString(", "))
      require(priorDocs.isEmpty,
        "pass priorDocs OR priorKeys, not both — they are alternative " +
          "forms of the same snapshot tier")
    }
    // the banded prior tier is meaningless without the minhash tier and a
    // snapshot — fail fast instead of silently re-admitting near-dups.
    // The KEY tier must also be present (priorDocs or priorKeys): the
    // banded tier alone cannot cover shingle-less docs or over-cap
    // buckets, which the comments below delegate to the key gate
    require(nearDupBands == 0 ||
        (nearDupHashes > 0 && (priorDocs.nonEmpty || priorKeys.nonEmpty)),
      "nearDupBands > 0 requires nearDupHashes > 0 and a key-tier " +
        "snapshot (priorDocs or priorKeys)")
    require(nearDupBands == 0 || priorDocs.nonEmpty || nearDupPriorSigs.nonEmpty,
      "nearDupBands > 0 with priorKeys needs nearDupPriorSigs (no text " +
        "to derive the snapshot signatures from)")
    require(nearDupPriorSigs.isEmpty || nearDupBands > 0,
      "nearDupPriorSigs is only read by the banded tier (nearDupBands > 0)")
    // optional pre-gate cleaning stages — all stateless projections, so
    // they ride the stream bit-identically to their batch forms:
    // fixText → C4 line/page filter (dropped pages leave the stream,
    // survivors carry the cleaned text) → PII redaction
    import graft.ext.Cleaning
    val fixed =
      if (fixUnicode) docs.withColumn(textCol, Cleaning.fixText(col(textCol)))
      else docs
    val c4ed =
      if (c4) Cleaning.withC4Columns(fixed, textCol)
        .where(col("page_keep") === 1)
        .withColumn(textCol, col("clean_text"))
        .drop("n_lines", "n_kept", "page_keep", "clean_text")
      else fixed
    val piiDone =
      if (redactPii) c4ed.withColumn(textCol, Cleaning.redactText(col(textCol)))
      else c4ed
    // C4 blocklist page filter — stateless, THE SAME predicate as the
    // batch blockedWordFilter (shared Cleaning.blockedWordCount), so a
    // page the batch pipeline would drop can never enter via the feed
    val scrubbed =
      if (blockWords.nonEmpty)
        piiDone.where(Cleaning.blockedWordCount(col(textCol), blockWords) === 0)
      else piiDone
    val t = TextOps.tokens(col(textCol))
    val gated = scrubbed
      .withWatermark(tsCol, watermark)
      .withColumn("content_hash", md5(col(textCol)))
      .withColumn("n_tokens", size(t).cast("long"))
      .withColumn("quality", TextOps.qualityScore(col(textCol), t))
      .withColumn("en_ratio", TextOps.enStopwordRatio(t))
      .withColumn("top_bigram_frac", TextOps.topNgramFraction(t, 2))
      .where(col("n_tokens") >= minTokens && col("quality") >= minQuality &&
        col("top_bigram_frac") <= maxTopBigramFrac)
    priorDocs.foreach(prior =>
      require(!prior.isStreaming, "priorDocs must be a static snapshot"))
    // the snapshot gate matches ON THE SAME KEY the within-stream dedup
    // uses — exact content hash, or the minhash-signature key when the
    // near-dup tier is on (a feed doc that is merely signature-equal to a
    // snapshot doc must not re-enter either). Stream-static has no
    // left_anti, hence left_outer + null filter.
    def dropSeen(stream: DataFrame, keyOf: DataFrame => DataFrame,
        key: String): DataFrame = {
      // the snapshot key table: given directly (priorKeys — the
      // persisted-projection path, renamed to the stream's key column;
      // no text, no per-construction derivation) or derived from the
      // snapshot's text (priorDocs)
      val keyTable = priorKeys.map(_.select(col("_key").as(key)))
        .orElse(priorDocs.map(prior => keyOf(prior).select(col(key))))
      keyTable match {
        case Some(kt) =>
          // the STATIC side of a stream-static join re-executes on EVERY
          // micro-batch — for the text path that is a full snapshot
          // signature pass per batch. Eager localCheckpoint (NOT persist:
          // a persist registers in the session CacheManager, which holds
          // strong references until an explicit unpersist — a library
          // cannot safely do that, so each gate construction would leak a
          // session-lifetime cache entry). Checkpoint blocks are plain RDD
          // blocks: the ContextCleaner reclaims them once the stopped
          // query's plan is garbage-collected.
          val priorK = kt.withColumn("_seen", lit(1)).distinct()
            .localCheckpoint()
          stream.join(priorK, Seq(key), "left_outer")
            .where(col("_seen").isNull).drop("_seen")
        case None => stream
      }
    }
    // the NORMALIZED tier (priorCanonKeys): stateless canonical-key
    // projection + stream-static anti-join (same left_outer shape as
    // dropSeen), then a watermark-scoped within-stream dedup on the
    // canonical key — the streaming mirror of
    // incrementalNormalizedDedup's two stages. Chained stateful dedups
    // (canonical + the content/signature one downstream) are append-mode
    // safe: both key on stateless projections of the same
    // watermark-stamped rows.
    def canonicalGate(stream: DataFrame): DataFrame = priorCanonKeys match {
      case Some(ck) =>
        val keyed = stream.withColumn("_canon_key",
          md5(graft.ext.Dedup.canonicalText(col(textCol))))
        // eager localCheckpoint, NOT persist — the dropSeen rationale
        val priorK = ck.select(col("_key").as("_canon_key"))
          .withColumn("_canon_seen", lit(1)).distinct().localCheckpoint()
        keyed.join(priorK, Seq("_canon_key"), "left_outer")
          .where(col("_canon_seen").isNull).drop("_canon_seen")
          .dropDuplicatesWithinWatermark("_canon_key")
          .drop("_canon_key")
      case None => stream
    }
    if (nearDupHashes <= 0) {
      canonicalGate(dropSeen(gated,
        p => p.select(md5(col(textCol)).as("content_hash")), "content_hash"))
        .dropDuplicatesWithinWatermark("content_hash")
    } else {
      def withKey(df: DataFrame): DataFrame =
        graft.ext.Dedup.withMinhashSignature(df, textCol, "minhash_sig", nearDupHashes)
          .withColumn("dedup_key",
            // empty signature (no shingles) → fall back to the exact hash
            // so shingle-less short docs don't all collapse onto one key
            when(size(col("minhash_sig")) > 0, concat_ws("_", col("minhash_sig")))
              .otherwise(md5(col(textCol))))
          .drop("minhash_sig")
      val keyed = graft.ext.Dedup
        .withMinhashSignature(gated, textCol, "minhash_sig", nearDupHashes)
        .withColumn("dedup_key",
          when(size(col("minhash_sig")) > 0, concat_ws("_", col("minhash_sig")))
            .otherwise(col("content_hash")))
      // batch tier order: signature-key gate → normalized → banded
      val afterSeen = canonicalGate(dropSeen(keyed, withKey, "dedup_key"))
      // optional BANDED prior tier — the streaming twin of
      // [[graft.ext.Dedup.incrementalBandedNearDedup]]: a feed doc is
      // dropped iff it shares ≥1 LSH band bucket with a snapshot doc AND
      // the minhash-ESTIMATED Jaccard (agreeing-slot fraction) reaches
      // the threshold. The WITHIN-stream tier stays signature-equality
      // (any-band matching needs cross-key state a watermark-scoped
      // dedup cannot hold), but against a STATIC prior the gate is
      // stateless: one left_outer stream-static join per band against
      // the prior's per-bucket signature lists (distinct join keys, so
      // stream rows never duplicate), then a pure array-expression
      // verdict. Over-cap prior buckets are dropped (the candidatePairs
      // convention); parity with the batch operator holds whenever no
      // bucket exceeds the cap on either side. Shingle-less feed docs
      // carry no signature and pass this tier (the exact/signature key
      // gate above already covers them).
      // the snapshot side comes from nearDupPriorSigs (the persisted
      // projection — required when the key tier runs from priorKeys) or
      // is derived from priorDocs text; the top require guarantees one
      // of the two is present whenever bands > 0
      val afterBanded = nearDupBands match {
        case b if b > 0 =>
          require(nearDupHashes % b == 0,
            "nearDupHashes must be divisible by nearDupBands")
          // prior signatures: from a precomputed minhashSignatures table
          // when given (`nearDupPriorSigs` — the persisted snapshot
          // contract, skipping the per-micro-batch minhash recompute the
          // text path pays), else derived from the snapshot's text
          val priorSigArr = nearDupPriorSigs match {
            case Some(sigs) =>
              val sigCols = "id" +: (0 until nearDupHashes).map(k => s"mh$k")
              require(sigs.columns.toSeq == sigCols,
                s"nearDupPriorSigs must be a minhashSignatures($nearDupHashes) " +
                  "projection (id, mh0..); got " + sigs.columns.mkString(", "))
              sigs.select(array(
                (0 until nearDupHashes).map(k => col(s"mh$k")): _*).as("_psig"))
            case None => graft.ext.Dedup
              .withMinhashSignature(priorDocs.get, textCol, "_psig", nearDupHashes)
              .where(size(col("_psig")) > 0)
              .select(col("_psig"))
          }
          val priorBucketRows = priorSigArr
            .select(col("_psig"), posexplode(graft.ext.Dedup
              .sigBandKeys(col("_psig"), nearDupHashes, b)).as(Seq("band", "key")))
          // over-cap buckets are dropped BEFORE collect_list via the SAME
          // shared cap as the batch operator (Dedup.cappedBuckets —
          // count-aggregate + anti-join-back since r18; a boilerplate
          // mega-bucket must never materialize its signature list just
          // to be discarded, and must never funnel through one task)
          // static-side materialization (same rationale and mechanism as
          // dropSeen's — localCheckpoint, never persist, see there):
          // without it, EACH of the b bucket tables re-runs the prior
          // signature explode on its first build and then again on EVERY
          // micro-batch. cappedRows checkpoints once so the b bucket
          // builds share one explode; each per-band (key, sig-list)
          // aggregate then checkpoints so later micro-batches read the
          // materialized blocks directly. After construction nothing
          // references cappedRows' blocks — the ContextCleaner reclaims
          // them — while the bucket blocks live exactly as long as the
          // query plan does.
          val cappedRows = graft.ext.Dedup
            .cappedBuckets(priorBucketRows, nearDupBandedMaxBucket)
            .localCheckpoint()
          val buckets = (0 until b).map { i =>
            cappedRows.where(col("band") === i)
              .groupBy(col("key").as(s"_k$i"))
              .agg(collect_list(col("_psig")).as(s"_ps$i"))
              .localCheckpoint()
          }
          val withKeys = afterSeen.withColumn("_bkeys", graft.ext.Dedup
            .sigBandKeys(col("minhash_sig"), nearDupHashes, b))
          val joined = (0 until b).foldLeft(withKeys) { (df, i) =>
            // shingle-less docs carry an EMPTY _bkeys array: guard the
            // lookup (bare element_at throws under ANSI mode, default-on
            // in Spark 4) — the null key matches no bucket, so such docs
            // pass this tier as documented
            df.withColumn(s"_k$i", when(size(col("_bkeys")) >= i + 1,
                element_at(col("_bkeys"), i + 1)))
              .join(buckets(i), Seq(s"_k$i"), "left_outer")
          }
          val matchAny = (0 until b).map { i =>
            coalesce(exists(col(s"_ps$i"), ps =>
              size(filter(zip_with(col("minhash_sig"), ps, (a, c) => a === c),
                x => x)).cast("double") / lit(nearDupHashes.toDouble)
                >= nearDupBandedThreshold), lit(false))
          }.reduce(_ || _)
          joined.where(!matchAny)
            .drop("_bkeys")
            .drop((0 until b).flatMap(i => Seq(s"_k$i", s"_ps$i")): _*)
        case _ => afterSeen
      }
      afterBanded
        .dropDuplicatesWithinWatermark("dedup_key")
        .drop("dedup_key")
    }
  }

  /** Streaming twin of [[graft.ext.Dedup.incrementalUrlDedup]] — the
    * ZEROTH gate tier over a feed: drop rows whose CANONICAL url
    * ([[graft.ext.UrlOps.normalize]]) matches the persisted
    * [[graft.ext.Dedup.urlKeys]] snapshot (stateless stream-static
    * anti-join), then collapse within-stream canonical-url twins under
    * the watermark. Runs BEFORE [[cleanDocuments]] — in a real crawler,
    * before the FETCH — so it applies its own watermark (`tsCol`,
    * `watermark`); the downstream gate re-stamping the same column is
    * fine. Static key table localCheckpointed once (the dropSeen
    * rationale). */
  def urlGate(stream: DataFrame, priorUrlKeys: DataFrame,
      urlCol: String = "url", tsCol: String = "ts",
      watermark: String = "10 minutes"): DataFrame = {
    require(stream.isStreaming,
      "urlGate is the streaming twin; batch frames use Dedup.incrementalUrlDedup")
    require(!priorUrlKeys.isStreaming, "priorUrlKeys must be a static snapshot")
    require(priorUrlKeys.columns.toSeq == Seq("_key"),
      "priorUrlKeys must be a urlKeys projection (single `_key` column); " +
        "got " + priorUrlKeys.columns.mkString(", "))
    keyedStreamGate(stream, priorUrlKeys,
      md5(graft.ext.UrlOps.normalize(col(urlCol))), "_url", "urlGate",
      tsCol, watermark)
  }

  /** Streaming twin of [[graft.ext.Dedup.incrementalDedupKeys]] — the
    * EXACT tier as a standalone composable gate (r19): drop feed rows
    * whose content hash matches the persisted
    * [[graft.ext.Dedup.exactKeys]] snapshot, then collapse
    * within-stream byte twins under the watermark. Null-TEXT rows pass
    * untouched (the shared [[keyedStreamGate]] null branch — inside
    * [[cleanDocuments]] the quality gate drops them first, but wired
    * directly this twin honors the batch null contract on its own). */
  def exactGate(stream: DataFrame, priorKeys: DataFrame,
      textCol: String = "text", tsCol: String = "ts",
      watermark: String = "10 minutes"): DataFrame = {
    require(stream.isStreaming,
      "exactGate is the streaming twin; batch frames use Dedup.incrementalDedupKeys")
    requireKeyProjection(priorKeys, "priorKeys", "exactKeys")
    keyedStreamGate(stream, priorKeys, md5(col(textCol)), "_exact",
      "exactGate", tsCol, watermark)
  }

  /** Streaming twin of [[graft.ext.Dedup.incrementalNormalizedDedup]]
    * — the NORMALIZED ("fuzzy exact") tier as a standalone composable
    * gate (r19): key = md5 of [[graft.ext.Dedup.canonicalText]],
    * gated against a persisted [[graft.ext.Dedup.canonicalKeys]]
    * snapshot; null-text rows pass untouched. */
  def normalizedGate(stream: DataFrame, priorCanonKeys: DataFrame,
      textCol: String = "text", tsCol: String = "ts",
      watermark: String = "10 minutes"): DataFrame = {
    require(stream.isStreaming,
      "normalizedGate is the streaming twin; batch frames use " +
        "Dedup.incrementalNormalizedDedup")
    requireKeyProjection(priorCanonKeys, "priorCanonKeys", "canonicalKeys")
    keyedStreamGate(stream, priorCanonKeys,
      md5(graft.ext.Dedup.canonicalText(col(textCol))), "_canon",
      "normalizedGate", tsCol, watermark)
  }

  /** Streaming twin of [[graft.ext.Dedup.incrementalNearDedup]] — the
    * SIGNATURE-equality tier as a standalone composable gate (r19):
    * key = the minhash signature key (slot concat,
    * [[graft.ext.Dedup.withMinhashSignature]] — bit-identical slot
    * math to the batch miner) with the batch tier's md5(text) fallback
    * for shingle-less docs, gated against a persisted
    * [[graft.ext.Dedup.nearDupKeys]] snapshot. Null-text rows carry a
    * null key through BOTH forms (no shingles AND a null md5) and
    * pass untouched. */
  def signatureGate(stream: DataFrame, priorSigKeys: DataFrame,
      numHashes: Int, textCol: String = "text", tsCol: String = "ts",
      watermark: String = "10 minutes"): DataFrame = {
    require(stream.isStreaming,
      "signatureGate is the streaming twin; batch frames use Dedup.incrementalNearDedup")
    requireKeyProjection(priorSigKeys, "priorSigKeys", "nearDupKeys")
    require(!stream.columns.contains("_sig_arr"),
      "the feed already carries a column named _sig_arr — signatureGate " +
        "stages the signature there; rename the input column")
    val sigged = graft.ext.Dedup.withMinhashSignature(stream, textCol,
      "_sig_arr", numHashes)
    keyedStreamGate(sigged,
      priorSigKeys,
      when(size(col("_sig_arr")) > 0, concat_ws("_", col("_sig_arr")))
        .otherwise(md5(col(textCol))),
      "_sig", "signatureGate", tsCol, watermark)
      .drop("_sig_arr")
  }

  private def requireKeyProjection(keys: DataFrame, arg: String,
      builder: String): Unit = {
    require(!keys.isStreaming, s"$arg must be a static snapshot")
    require(keys.columns.toSeq == Seq("_key"),
      s"$arg must be a $builder projection (single `_key` column); " +
        "got " + keys.columns.mkString(", "))
  }

  /** Shared body of the standalone keyed stream twins ([[urlGate]] /
    * [[exactGate]] / [[normalizedGate]] / [[signatureGate]]) — the
    * batch [[graft.ext.Dedup]] keyedGate's streaming shape, so the
    * four tiers cannot drift: stream-static anti-join (left_outer +
    * null filter — stream-static has no left_anti) against the
    * snapshot's distinct keys, then a watermark-scoped within-stream
    * collapse on the same key. NULL keys branch around BOTH in SCALA
    * (the shared null-key contract: a null canonical key is no
    * evidence of duplication — `dropDuplicatesWithinWatermark`
    * compares nulls EQUAL and would silently collapse every null-key
    * feed row onto one, breaking batch↔streaming parity; the
    * stateless null branch also skips the snapshot join, which a null
    * key cannot match anyway). Static key table localCheckpointed
    * once at construction (the dropSeen rationale — never persist:
    * a library cannot safely own a session-lifetime cache entry). */
  private def keyedStreamGate(stream: DataFrame, priorKeys: DataFrame,
      keyOf: Column, stage: String, op: String, tsCol: String,
      watermark: String): DataFrame = {
    val (kCol, sCol) = (s"${stage}_key", s"${stage}_seen")
    Seq(kCol, sCol).foreach { c =>
      require(!stream.columns.contains(c),
        s"the feed already carries a column named $c — $op stages " +
          "tier state there; rename the input column")
    }
    val keyed = stream.withWatermark(tsCol, watermark)
      .withColumn(kCol, keyOf)
    val priorK = priorKeys.select(col("_key").as(kCol))
      .withColumn(sCol, lit(1)).distinct().localCheckpoint()
    val nonNull = keyed.where(col(kCol).isNotNull)
      .join(priorK, Seq(kCol), "left_outer")
      .where(col(sCol).isNull).drop(sCol)
      .dropDuplicatesWithinWatermark(kCol)
      .drop(kCol)
    nonNull.unionByName(keyed.where(col(kCol).isNull).drop(kCol))
  }

  /** Streaming twin of [[graft.ext.Similarity.incrementalSemDedup]] — the
    * SEMANTIC gate tier over a feed that carries an embedding column:
    * a feed doc is dropped iff some PRIOR-snapshot doc in one of its
    * `nprobe` nearest IVF cells reaches rounded cosine ≥ `threshold`.
    * Against a STATIC snapshot the tier is stateless (the banded twin's
    * argument): one left_outer stream-static join per probe against the
    * prior's per-cell (embedding, norm) lists — distinct join keys, so
    * stream rows never duplicate — then a pure array-expression
    * verdict. Over-cap prior cells are dropped via the SAME
    * [[graft.ext.Similarity.cappedCells]] primitive the batch gate
    * uses (count-aggregate + anti-join-back — the skew-safe shape),
    * with the SAME default cap as the batch twin (mismatched defaults
    * would silently break parity out of the box); parity holds whenever
    * no cell exceeds the cap on either side (the batch gate also caps
    * ITS probe side — the banded-tier convention). Every quantizer form
    * of the batch gate applies verbatim: `nprobe` fans over the coarse
    * cells of a two-level quantizer, and a PQ snapshot's cell lists
    * hold decoded vectors while the feed vector is encode∘decoded
    * through the same codebooks (exact replicas of snapshot docs block
    * at any code budget). Compose AFTER [[cleanDocuments]]: the
    * lexical tiers are cheaper and catch everything but the paraphrase
    * class this tier exists for.
    *
    * The static per-cell tables are localCheckpointed once at
    * construction (the dropSeen rationale — a long stream must not
    * re-run the snapshot cell assignment every micro-batch).
    *
    * RE-KEY HANDOFF (the quantizer-growth lifecycle over a stream):
    * `priorCells` and `quantizer` are fixed for the life of the query
    * by design — the tier is STATELESS against the static snapshot
    * (no dropDuplicates state, no watermark), so swapping in a grown
    * quantizer is a plain restart: stop the query, re-key the
    * persisted snapshot ([[graft.ext.Similarity.rekeySemanticSnapshot]]
    * — map-only, `_gen` carried), and start a new query on the
    * re-keyed snapshot + new quantizer. Nothing is lost at the seam:
    * there is no tier state to migrate, sink offsets live with the
    * SINK's checkpoint, and post-swap decisions equal the batch gate
    * under the new quantizer row-for-row (StreamingSpec pins the
    * handoff). Do NOT swap the snapshot under a RUNNING query via
    * closure capture — the cell lists are checkpointed at construction
    * precisely so the plan cannot silently half-read two quantizers. */
  def semanticGate(stream: DataFrame, priorCells: DataFrame,
      quantizer: graft.ext.CellQuantizer, threshold: Double,
      embCol: String = "embedding", nprobe: Int = 1,
      maxCellSize: Int = 10000, roundDigits: Int = 5): DataFrame = {
    import graft.ext.Similarity
    require(stream.isStreaming,
      "semanticGate is the streaming twin; batch frames use Similarity.incrementalSemDedup")
    require(!priorCells.isStreaming, "priorCells must be a static snapshot")
    val probeCells = quantizer.probeCells(col(embCol), nprobe)
    quantizer.requireSnapshot(priorCells, "semanticGate")
    val staged = Seq("_scells", "_sbv") ++ (0 until nprobe).flatMap(i =>
      Seq(s"_sc$i", s"_sps$i"))
    staged.foreach { c =>
      require(!stream.columns.contains(c),
        s"the feed already carries a column named $c — semanticGate " +
          "stages tier state there; rename the input column")
    }
    // PQ codes are decoded once here, at construction (the long-stream
    // discipline), not per micro-batch
    val cellLists = Similarity.cappedCells(
        priorCells.select(col("cell"),
            quantizer.decode(col(quantizer.payload)).as("emb"))
          .select(col("cell"), struct(col("emb").as("e"),
            Similarity.l2Norm(col("emb")).as("n")).as("_p")),
        maxCellSize)
      .groupBy("cell").agg(collect_list(col("_p")).as("_sps"))
      .localCheckpoint()
    // the comparison vector is staged ONCE per row (_sbv): the PQ twin's
    // encode∘decode must not re-run per probe × per candidate
    val withCells = stream.withColumn("_scells", probeCells)
      .withColumn("_sbv", quantizer.compareVec(col(embCol)))
    val joined = (0 until nprobe).foldLeft(withCells) { (df, i) =>
      df.withColumn(s"_sc$i", element_at(col("_scells"), i + 1))
        .join(cellLists.select(col("cell").as(s"_sc$i"),
          col("_sps").as(s"_sps$i")), Seq(s"_sc$i"), "left_outer")
    }
    val sn = Similarity.l2Norm(col("_sbv"))
    val matchAny = (0 until nprobe).map { i =>
      coalesce(exists(col(s"_sps$i"), p =>
        round(Similarity.dot(col("_sbv"), p.getField("e")) /
          (sn * p.getField("n")), roundDigits) >= threshold), lit(false))
    }.reduce(_ || _)
    joined.where(!matchAny).drop(staged: _*)
  }

  /** Streaming composition of [[graft.ext.Dedup.stripSeenParagraphs]] —
    * the paragraph tier over a feed, as a `foreachBatch` body (the
    * continuous-archiving pattern): each micro-batch is stripped
    * against the persisted [[graft.ext.Dedup.paragraphKeys]] snapshot
    * with the SAME batch operator (shared code), and the per-doc
    * (idCol, n_paras, n_seen_paras, clean_text) rows — stamped with the
    * batch id — go to `sink`. The strip is per-DOCUMENT-independent
    * given the static snapshot, so per-batch outputs over a feed equal
    * the batch operator over the concatenated feed row-for-row (the
    * attritionForeachBatch parity discipline; StreamingSpec pins it). */
  def stripSeenParagraphsForeachBatch(priorParaKeys: DataFrame,
      textCol: String = "text", idCol: String = "doc_id")(
      sink: DataFrame => Unit): (DataFrame, Long) => Unit =
    (batch, batchId) => sink(
      graft.ext.Dedup.stripSeenParagraphs(batch, priorParaKeys, textCol, idCol)
        .withColumn("batch_id", lit(batchId)))

  /** Streaming twin of [[graft.ext.Cleaning.attritionReport]] — per
    * micro-batch stage accounting for a gated feed: a `foreachBatch`
    * body that classifies the batch's rows with the SAME first-fail
    * when-chain as the batch operator (shared code — the two cannot
    * drift) and hands the per-stage report, stamped with the batch id,
    * to `sink` (append it to a stats table / metrics store). Because
    * attrition is a per-row classification, per-batch reports are
    * ADDITIVE: summing n_in/n_kept/n_dropped per stage over batches
    * equals the batch report over the concatenated feed — the parity
    * contract StreamingSpec pins. Driver cost per batch is one
    * stage-count-bounded aggregate (≤ stages+1 rows), same as the batch
    * operator.
    *
    * Usage: `feed.writeStream.foreachBatch(
    *   StreamingIngest.attritionForeachBatch(stages)(report => …))`. */
  def attritionForeachBatch(stages: Seq[(String, Column)])(
      sink: DataFrame => Unit): (DataFrame, Long) => Unit =
    (batch, batchId) => sink(
      graft.ext.Cleaning.attritionReport(batch, stages)
        .withColumn("batch_id", lit(batchId)))

  /** Streaming composition of [[graft.ext.Dedup.stripSeenSpans]] — the
    * repeated-SPAN tier over a feed, as a `foreachBatch` body (the
    * [[stripSeenParagraphsForeachBatch]] pattern, and the twin that
    * completes the set: every gate tier now has a streaming form):
    * each micro-batch is stripped against the persisted
    * [[graft.ext.Dedup.spanKeys]] snapshot with the SAME batch
    * operator, rows stamped with the batch id. Per-document-
    * independent given the static snapshot ⇒ per-batch outputs equal
    * the batch operator over the concatenated feed row-for-row
    * (StreamingSpec-pinned parity discipline). */
  def stripSeenSpansForeachBatch(priorSpanKeys: DataFrame,
      textCol: String = "text", idCol: String = "doc_id", n: Int = 3)(
      sink: DataFrame => Unit): (DataFrame, Long) => Unit =
    (batch, batchId) => sink(
      graft.ext.Dedup.stripSeenSpans(batch, priorSpanKeys, textCol, idCol, n)
        .withColumn("batch_id", lit(batchId)))
}

/** Continuous training over a micro-batch stream — the streaming twin of
  * the reference's `xgb_model` continuation (training.py:40-46): each
  * micro-batch appends `roundsPerBatch` boosted rounds onto the running
  * ensemble via [[graft.tree.GBTTrainer.fitContinue]], starting from the
  * previous model's margins, so the ensemble incrementally tracks the feed
  * without ever re-reading history. The model reference lives on the
  * driver (foreachBatch runs there); executors see each generation as a
  * broadcast inside fitContinue — no state store, no model shipping
  * beyond the per-generation broadcast a batch fit pays anyway.
  *
  * Scale notes: each micro-batch fit is the SAME distributed hist fit as
  * batch training (sketch → bin → level-wise treeAggregates) on just the
  * new data; `maxTrees` bounds ensemble growth (oldest-first slice) so
  * per-row inference cost stays O(maxTrees·depth) on an unbounded feed. */
final class StreamingTrainer(
    params: graft.tree.TrainParams,
    initial: Option[BoosterModel] = None,
    maxTrees: Int = 0) extends Serializable {

  @volatile private var current: Option[BoosterModel] = initial

  /** Latest model generation (None until the first non-empty batch). */
  def model: Option[BoosterModel] = current

  /** Fold one micro-batch of (features, label, weight) rows into the
    * ensemble; returns the updated model. Empty batches are a no-op. */
  def update(batch: org.apache.spark.rdd.RDD[(Array[Double], Double, Double)]): Option[BoosterModel] = {
    if (batch.isEmpty()) return current
    val trainer = new graft.tree.GBTTrainer(params)
    val next = current match {
      case Some(prev) => trainer.fitContinue(batch, prev)
      case None => trainer.fit(batch)
    }
    val bounded =
      if (maxTrees > 0 && next.trees.length > maxTrees) {
        val cut = next.trees.length - maxTrees
        // The dropped (oldest) trees' contribution is baked into every later
        // tree's residual fit; removing them without compensation shifts all
        // predictions by that contribution. Estimate its per-group mean on
        // the current batch and fold it into baseScore so the sliced
        // ensemble keeps the same prediction center.
        val dropped = next.copy(
          trees = next.trees.slice(0, cut),
          treeWeights = next.treeWeights.slice(0, cut),
          treeGroup = next.treeGroup.slice(0, cut),
          baseScore = new Array[Double](next.baseScore.length))
        val (sums, n) = batch
          .map { case (f, _, _) => (dropped.margin(f), 1L) }
          .treeReduce { case ((a, na), (b, nb)) =>
            var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }
            (a, na + nb)
          }
        val sliced = next.slice(cut, next.trees.length)
        sliced.copy(baseScore = Array.tabulate(sliced.baseScore.length)(g =>
          sliced.baseScore(g) + sums(g) / math.max(n, 1L).toDouble))
      } else next
    current = Some(bounded)
    current
  }

  /** foreachBatch sink: decode `featuresCol`/`labelCol` (+ optional
    * `weightCol`) from each micro-batch DataFrame and fold it in. */
  def sink(featuresCol: String = "features", labelCol: String = "label",
      weightCol: String = ""): (DataFrame, Long) => Unit = { (df, _) =>
    val w = if (weightCol.nonEmpty) col(weightCol).cast("double") else lit(1.0)
    val rows = df.select(col(featuresCol), col(labelCol).cast("double"), w)
      .rdd.map { r =>
        val f = r.get(0) match {
          case a: scala.collection.Seq[_] =>
            a.map(x => x.asInstanceOf[Number].doubleValue()).toArray
          case a: Array[Double] => a
          case other => throw new IllegalArgumentException(
            s"featuresCol must be array<double>, got ${other.getClass}")
        }
        (f, r.getDouble(1), r.getDouble(2))
      }
    update(rows)
    ()
  }
}
