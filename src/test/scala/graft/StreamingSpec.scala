package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.CellQuantizer.{Flat, Pq, TwoLevel}
import graft.streaming.StreamingScorer
import graft.tree.{GBTTrainer, TrainParams}

class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("streaming scores match batch scores through the same expression") {
    import spark.implicits._
    val rng = new scala.util.Random(31)
    val rows = (0 until 800).map { i =>
      val x = Seq(rng.nextGaussian(), rng.nextGaussian())
      (i.toLong, x, 3.0 * x(0) - x(1))
    }
    val model = new GBTTrainer(TrainParams(numRounds = 3, maxDepth = 3, seed = 2))
      .fit(spark.sparkContext.parallelize(rows.map { case (_, x, y) => (x.toArray, y, 1.0) }, 3))

    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Seq[Double])]
    val scored = StreamingScorer.score(
      stream.toDF().toDF("id", "features"), model, "features")
    val q = scored.writeStream.format("memory").queryName("scored_sink")
      .outputMode("append").start()
    try {
      stream.addData(rows.map(r => (r._1, r._2)))
      q.processAllAvailable()
      val out = spark.table("scored_sink")
        .select("id", "prediction").as[(Long, Double)].collect().toMap
      assert(out.size == rows.size)
      rows.take(100).foreach { case (id, x, _) =>
        val batch = model.margin(x.toArray)(0)
        assert(math.abs(out(id) - batch) < 1e-12, s"row $id: ${out(id)} vs $batch")
      }
    } finally q.stop()
  }

  test("watermarked windowed aggregation over streaming predictions") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val model = new GBTTrainer(TrainParams(numRounds = 1, maxDepth = 1, seed = 1))
      .fit(spark.sparkContext.parallelize(
        (0 until 200).map(i => (Array(i.toDouble), i.toDouble, 1.0)), 2))
    val stream = MemoryStream[(java.sql.Timestamp, Seq[Double])]
    val scored = StreamingScorer.score(
      stream.toDF().toDF("ts", "features"), model, "features")
    val windowed = StreamingScorer.windowedMeanPrediction(
      scored, "ts", "10 seconds", "30 seconds")
    val q = windowed.writeStream.format("memory").queryName("win_sink")
      .outputMode("append").start()
    try {
      val base = 1700000000000L
      stream.addData((0 until 40).map(i =>
        (new java.sql.Timestamp(base + i * 1000L), Seq(i.toDouble))))
      // advance the watermark far enough to close the earlier windows
      stream.addData(Seq((new java.sql.Timestamp(base + 120000L), Seq(1.0))))
      q.processAllAvailable()
      val n = spark.table("win_sink").count()
      assert(n >= 3, s"expected closed 10s windows, got $n rows")
    } finally q.stop()
  }

  test("stateful sessionization closes sessions on gap and on watermark timeout") {
    import spark.implicits._
    import graft.streaming.StreamingSessionizer
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, java.sql.Timestamp)]
    val sessions = StreamingSessionizer.sessionize(
      stream.toDF().toDF("user_id", "ts"), gapSec = 60, watermark = "0 seconds")
    val q = sessions.writeStream.format("memory").queryName("sess_sink")
      .outputMode("append").start()
    try {
      val t0 = 1700000000L // seconds
      def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
      // user 1: two bursts 10 min apart (one explicit gap close);
      // user 2: one burst, closed only by the advancing watermark
      stream.addData(Seq(
        (1L, ts(t0)), (1L, ts(t0 + 30)), (1L, ts(t0 + 55)),
        (2L, ts(t0 + 10)), (2L, ts(t0 + 20))))
      q.processAllAvailable()
      stream.addData(Seq((1L, ts(t0 + 600)), (1L, ts(t0 + 620))))
      q.processAllAvailable()
      // push the watermark far past everything to time out open sessions
      stream.addData(Seq((9L, ts(t0 + 5000))))
      q.processAllAvailable()
      val out = spark.table("sess_sink")
        .select("userId", "startSec", "endSec", "nEvents")
        .as[(Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
      assert(out.contains((1L, t0, t0 + 55, 3L)), s"user1 first session: ${out.toSeq}")
      assert(out.contains((1L, t0 + 600, t0 + 620, 2L)), s"user1 second session: ${out.toSeq}")
      assert(out.contains((2L, t0 + 10, t0 + 20, 2L)), s"user2 session: ${out.toSeq}")
    } finally q.stop()
  }

  test("streaming sessionizer agrees with the batch e_sessionize query") {
    import spark.implicits._
    import graft.streaming.StreamingSessionizer
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    // batch twin: (user_id, n_sessions, n_events) with a 30-min gap
    val batch = graft.queries.EventQueries.queries("e_sessionize")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // stream the same events (epoch-ns → whole-second timestamps; the batch
    // query floors to seconds too, so session boundaries are identical)
    val events = graft.queries.EventQueries.events(spark, dir)
      .selectExpr("user_id", "ts div 1000000000 AS sec")
      .collect().map(r => (r.getLong(0), new java.sql.Timestamp(r.getLong(1) * 1000L)))
    val stream = MemoryStream[(Long, java.sql.Timestamp)]
    val sessions = StreamingSessionizer.sessionize(
      stream.toDF().toDF("user_id", "ts"), gapSec = 1800, watermark = "0 seconds")
    val q = sessions.writeStream.format("memory").queryName("parity_sink")
      .outputMode("append").start()
    try {
      stream.addData(events)
      q.processAllAvailable()
      // sentinel far in the future closes every open session via timeout
      val maxSec = events.map(_._2.getTime / 1000).max
      stream.addData(Seq((999999L, new java.sql.Timestamp((maxSec + 100000) * 1000L))))
      q.processAllAvailable()
      val streamed = spark.table("parity_sink")
        .where($"userId" =!= 999999L)
        .groupBy("userId")
        .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("ns"),
          org.apache.spark.sql.functions.sum("nEvents").as("ne"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(streamed.keySet == batch.keySet)
      streamed.foreach { case (u, (ns, ne)) =>
        assert(batch(u) == ((ns, ne)), s"user $u: stream ($ns,$ne) vs batch ${batch(u)}")
      }
    } finally q.stop()
  }
  test("streaming ingest gate: quality filter + watermark-scoped exact dedup") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(sec: Int) = new java.sql.Timestamp(1700000000000L + sec * 1000L)
    val good1 = "the quick brown fox jumps over the lazy dog near the river bank today"
    val good2 = "a second perfectly reasonable document with the usual amount of english words"
    val short = "too short"
    val stream = MemoryStream[(java.sql.Timestamp, String)]
    val cleaned = graft.streaming.StreamingIngest.cleanDocuments(
      stream.toDF().toDF("ts", "text"), watermark = "1 minute", minTokens = 5,
      minQuality = 0.05)
    val q = cleaned.writeStream.format("memory").queryName("ingest_sink")
      .outputMode("append").start()
    try {
      // batch 1: two good docs, an in-batch duplicate of good1, a too-short doc
      stream.addData(Seq((ts(0), good1), (ts(1), good2), (ts(2), good1), (ts(3), short)))
      q.processAllAvailable()
      // batch 2: a duplicate of good1 inside the watermark + one fresh doc
      val good3 = "yet another fine piece of training text that should clearly survive the gate"
      stream.addData(Seq((ts(10), good1), (ts(11), good3)))
      q.processAllAvailable()
      val out = spark.table("ingest_sink").select("text").as[String].collect()
      assert(out.count(_ == good1) == 1, s"duplicates must collapse: ${out.toSeq}")
      assert(out.contains(good2) && out.contains(good3))
      assert(!out.contains(short), "below-min-token doc must be gated out")
      // parity with the batch pipeline: same survivors via exactDedup + filter
      val batchDf = Seq((1L, good1), (2L, good2), (3L, good1), (4L, short), (5L, good3))
        .toDF("doc_id", "text")
      val batchKept = graft.ext.Dedup.exactDedup(batchDf, "text", "doc_id")
        .where(org.apache.spark.sql.functions.size(
          graft.ext.TextOps.tokens(org.apache.spark.sql.functions.col("text"))) >= 5)
        .select("text").as[String].collect().toSet
      assert(batchKept == out.toSet, "streaming gate must agree with the batch pipeline")
    } finally q.stop()
  }

  test("streaming ingest gate: blocklist page filter agrees with the batch operator") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(sec: Int) = new java.sql.Timestamp(1700000000000L + sec * 1000L)
    val clean = "the quick brown fox jumps over the lazy dog near the river bank today"
    val dirty = "the quick brown fox mentions BadWord once among many other english words"
    val subStr = "the quick brown badwords is a substring case and must not be dropped here"
    val stream = MemoryStream[(java.sql.Timestamp, String)]
    val cleaned = graft.streaming.StreamingIngest.cleanDocuments(
      stream.toDF().toDF("ts", "text"), watermark = "1 minute", minTokens = 5,
      minQuality = 0.05, blockWords = Seq("badword"))
    val q = cleaned.writeStream.format("memory").queryName("blocklist_sink")
      .outputMode("append").start()
    try {
      stream.addData(Seq((ts(0), clean), (ts(1), dirty), (ts(2), subStr)))
      q.processAllAvailable()
      val out = spark.table("blocklist_sink").select("text").as[String].collect().toSet
      assert(out == Set(clean, subStr), s"got $out")
      // parity: the batch operator keeps exactly the same pages
      val batchKept = graft.ext.Cleaning.blockedWordFilter(
          Seq((1L, clean), (2L, dirty), (3L, subStr)).toDF("doc_id", "text"),
          Seq("badword"))
        .where($"word_keep" === 1).count()
      assert(batchKept == 2)
    } finally q.stop()
  }

  test("streaming ingest gate: prior-snapshot dedup (incrementalDedup twin)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(sec: Int) = new java.sql.Timestamp(1700000000000L + sec * 1000L)
    val seen = "this document already lives in the published and curated corpus snapshot"
    val fresh = "a genuinely new crawl document that the prior snapshot has never contained"
    val prior = Seq((1L, seen)).toDF("doc_id", "text")
    val stream = MemoryStream[(java.sql.Timestamp, String)]
    val cleaned = graft.streaming.StreamingIngest.cleanDocuments(
      stream.toDF().toDF("ts", "text"), watermark = "1 minute", minTokens = 5,
      minQuality = 0.05, priorDocs = Some(prior))
    val q = cleaned.writeStream.format("memory").queryName("prior_sink")
      .outputMode("append").start()
    try {
      stream.addData(Seq((ts(0), seen), (ts(1), fresh)))
      q.processAllAvailable()
      val out = spark.table("prior_sink").select("text").as[String].collect().toSeq
      assert(out == Seq(fresh), s"snapshot doc must not re-enter: $out")
      // batch twin agreement on the same inputs
      val batchKept = graft.ext.Dedup.incrementalDedup(
          Seq((10L, seen), (11L, fresh)).toDF("doc_id", "text"), prior)
        .select("text").as[String].collect().toSeq
      assert(batchKept == Seq(fresh))
      // a streaming prior is rejected loudly
      val err = intercept[IllegalArgumentException] {
        graft.streaming.StreamingIngest.cleanDocuments(
          stream.toDF().toDF("ts", "text"),
          priorDocs = Some(stream.toDF().toDF("ts", "text")))
      }
      assert(err.getMessage.contains("static snapshot"))
    } finally q.stop()

    // with the near-dup tier ON, the snapshot gate matches on the
    // SIGNATURE key: a byte-different ROTATION of a snapshot doc (same
    // shingle set, the near-dup-gate fixture trick) must not re-enter
    val rotPrior = Seq((1L, "alpha beta gamma alpha beta gamma")).toDF("doc_id", "text")
    val rotated = "beta gamma alpha beta gamma alpha"
    val stream2 = MemoryStream[(java.sql.Timestamp, String)]
    val cleaned2 = graft.streaming.StreamingIngest.cleanDocuments(
      stream2.toDF().toDF("ts", "text"), watermark = "1 minute", minTokens = 5,
      minQuality = 0.0, nearDupHashes = 16, priorDocs = Some(rotPrior))
    val q2 = cleaned2.writeStream.format("memory").queryName("prior_sig_sink")
      .outputMode("append").start()
    try {
      stream2.addData(Seq((ts(0), rotated), (ts(1), fresh)))
      q2.processAllAvailable()
      val out2 = spark.table("prior_sig_sink").select("text").as[String].collect().toSeq
      assert(out2 == Seq(fresh),
        s"signature-equal rotation of a snapshot doc must not re-enter: $out2")
      // batch twin agreement on the same inputs and key: the batch
      // incremental NEAR-dedup gate keeps exactly the streaming survivors
      val batchKept2 = graft.ext.Dedup.incrementalNearDedup(
          Seq((10L, rotated), (11L, fresh)).toDF("doc_id", "text"),
          graft.ext.Dedup.nearDupKeys(rotPrior, numHashes = 16),
          numHashes = 16)
        .select("text").as[String].collect().toSeq
      assert(batchKept2 == out2,
        "batch incrementalNearDedup must agree with the streaming snapshot gate")
    } finally q2.stop()
  }

  test("snapshot loop across stream restarts: day-1 acceptances gate day 2 after the advance") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(sec: Int) = new java.sql.Timestamp(1700000000000L + sec * 1000L)
    // periodic text so a ROTATION is shingle-set-identical (the
    // signature-key trick the batch loop fixtures use)
    val s0doc = "this document already lives in the published and curated corpus snapshot"
    val d1doc = "delta epsilon zeta delta epsilon zeta"
    val d1rot = "epsilon zeta delta epsilon zeta delta"
    val fresh2 = "a second-day crawl document that no snapshot generation has ever contained"
    val s0 = Seq((1L, s0doc)).toDF("doc_id", "text")
    // day 1: stream gated by S0 accepts d1doc
    val st1 = MemoryStream[(java.sql.Timestamp, String)]
    val q1 = graft.streaming.StreamingIngest.cleanDocuments(
        st1.toDF().toDF("ts", "text"), watermark = "1 minute", minTokens = 5,
        minQuality = 0.0, nearDupHashes = 16, priorDocs = Some(s0))
      .writeStream.format("memory").queryName("loop_day1")
      .outputMode("append").start()
    try {
      st1.addData(Seq((ts(0), s0doc), (ts(1), d1doc)))
      q1.processAllAvailable()
      assert(spark.table("loop_day1").select("text").as[String].collect().toSeq
        == Seq(d1doc))
    } finally q1.stop()
    // the ADVANCE: next generation's snapshot = S0 ∪ day-1 acceptances
    // (the persisted form is the bucketed key append; semantics are the
    // union, which is what a restart reads)
    val s1 = s0.unionByName(spark.table("loop_day1")
      .select(org.apache.spark.sql.functions.lit(2L).as("doc_id"),
        org.apache.spark.sql.functions.col("text")))
    // day 2: restarted stream gated by S1 — a byte-different rotation of
    // the day-1-accepted doc must NOT re-enter; day-0 docs stay blocked
    val st2 = MemoryStream[(java.sql.Timestamp, String)]
    val q2 = graft.streaming.StreamingIngest.cleanDocuments(
        st2.toDF().toDF("ts", "text"), watermark = "1 minute", minTokens = 5,
        minQuality = 0.0, nearDupHashes = 16, priorDocs = Some(s1))
      .writeStream.format("memory").queryName("loop_day2")
      .outputMode("append").start()
    try {
      st2.addData(Seq((ts(100), d1rot), (ts(101), s0doc), (ts(102), fresh2)))
      q2.processAllAvailable()
      val day2 = spark.table("loop_day2").select("text").as[String].collect().toSeq
      assert(day2 == Seq(fresh2),
        s"only the genuinely new doc may pass the advanced snapshot: $day2")
      // batch twin on the same advanced snapshot agrees
      val batchKept = graft.ext.Dedup.incrementalNearDedup(
          Seq((10L, d1rot), (11L, s0doc), (12L, fresh2)).toDF("doc_id", "text"),
          graft.ext.Dedup.nearDupKeys(s1, numHashes = 16), numHashes = 16)
        .select("text").as[String].collect().toSeq
      assert(batchKept == day2,
        "batch gate against the advanced keys must agree with the restarted stream")
    } finally q2.stop()
  }

  test("projection-driven streaming gate: priorKeys + nearDupPriorSigs run the full gate without snapshot text") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(sec: Int) = new java.sql.Timestamp(1700000000000L + sec * 1000L)
    import org.apache.spark.sql.functions.col
    val Dedup = graft.ext.Dedup
    val periodic = "alpha beta gamma alpha beta gamma"
    val longDoc = (1 to 40).map(i => s"tok$i").mkString(" ")
    val prior = Seq((1L, periodic), (2L, longDoc)).toDF("doc_id", "text")
    val keys = Dedup.nearDupKeys(prior, numHashes = 16)
    val sigs = Dedup.minhashSignatures(prior, "text", col("doc_id"), 16)
    // fixture classes: signature-equal rotation (key tier), 8-token
    // append of the long doc (banded tier only), novel (passes)
    val rotated = "beta gamma alpha beta gamma alpha"
    val appended = longDoc + " sur1 sur2 sur3 sur4 sur5 sur6 sur7 sur8"
    val novel = (1 to 40).map(i => s"new$i").mkString(" ")
    def run(name: String, usePriorDocs: Boolean): Seq[String] = {
      val st = MemoryStream[(java.sql.Timestamp, String)]
      val q = graft.streaming.StreamingIngest.cleanDocuments(
          st.toDF().toDF("ts", "text"), watermark = "1 minute",
          minTokens = 5, minQuality = 0.0, nearDupHashes = 16,
          nearDupBands = 4,
          priorDocs = if (usePriorDocs) Some(prior) else None,
          priorKeys = if (usePriorDocs) None else Some(keys),
          nearDupPriorSigs = Some(sigs))
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        st.addData(Seq((ts(0), rotated), (ts(1), appended), (ts(2), novel)))
        q.processAllAvailable()
        spark.table(name).select("text").as[String].collect().toSeq
      } finally q.stop()
    }
    val viaKeys = run("proj_gate_keys", usePriorDocs = false)
    assert(viaKeys == Seq(novel),
      s"rotation (key tier) and append (banded tier) must both drop: $viaKeys")
    // text-driven form agrees — the projections ARE the snapshot
    assert(run("proj_gate_text", usePriorDocs = true) == viaKeys)
    // misuse fails loudly
    val st = MemoryStream[(java.sql.Timestamp, String)]
    intercept[IllegalArgumentException] {
      graft.streaming.StreamingIngest.cleanDocuments(
        st.toDF().toDF("ts", "text"),
        priorDocs = Some(prior), priorKeys = Some(keys))
    }
    intercept[IllegalArgumentException] {
      graft.streaming.StreamingIngest.cleanDocuments(
        st.toDF().toDF("ts", "text"), priorKeys = Some(prior))
    }
  }

  test("retention composes with the streaming gate: aged-out snapshot content re-enters the feed") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(sec: Int) = new java.sql.Timestamp(1700000000000L + sec * 1000L)
    val Dedup = graft.ext.Dedup
    val oldDoc = "content last crawled generations ago and due for a refresh"
    val newDoc = "content accepted in the current generation of the snapshot"
    val snap = Dedup.stampGeneration(
        Dedup.exactKeys(Seq((1L, oldDoc)).toDF("doc_id", "text")), 0L)
      .unionByName(Dedup.stampGeneration(
        Dedup.exactKeys(Seq((2L, newDoc)).toDF("doc_id", "text")), 5L))
    // retainGenerations output IS a priorKeys projection — the whole
    // re-crawl policy plugs into the stream gate with no glue
    val stream = MemoryStream[(java.sql.Timestamp, String)]
    val q = graft.streaming.StreamingIngest.cleanDocuments(
        stream.toDF().toDF("ts", "text"), watermark = "1 minute",
        minTokens = 5, minQuality = 0.0,
        priorKeys = Some(Dedup.retainGenerations(snap, minGen = 3L)))
      .writeStream.format("memory").queryName("ttl_gate_sink")
      .outputMode("append").start()
    try {
      stream.addData(Seq((ts(0), oldDoc), (ts(1), newDoc)))
      q.processAllAvailable()
      val out = spark.table("ttl_gate_sink").select("text").as[String]
        .collect().toSeq
      assert(out == Seq(oldDoc),
        s"gen-0 content must re-enter, gen-5 must stay blocked: $out")
    } finally q.stop()
  }

  test("signature retention composes with the streaming banded gate: aged-out near-dups re-enter the feed") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    def ts(sec: Int) = new java.sql.Timestamp(1700000000000L + sec * 1000L)
    val Dedup = graft.ext.Dedup
    val long1 = (1 to 40).map(i => s"aw$i").mkString(" ") // gen-0 content
    val long2 = (1 to 40).map(i => s"bv$i").mkString(" ") // gen-5 content
    val d1 = Seq((1L, long1)).toDF("doc_id", "text")
    val d2 = Seq((2L, long2)).toDF("doc_id", "text")
    // BOTH snapshot artifacts generation-stamped, ONE retention policy:
    // the retained projections plug straight into the stream gate's
    // priorKeys / nearDupPriorSigs slots with no glue
    val keySnap = Dedup.stampGeneration(Dedup.nearDupKeys(d1, numHashes = 16), 0L)
      .unionByName(Dedup.stampGeneration(Dedup.nearDupKeys(d2, numHashes = 16), 5L))
    val sigSnap = Dedup.stampSignatureGeneration(
        Dedup.minhashSignatures(d1, "text", col("doc_id"), 16), 0L, 16)
      .unionByName(Dedup.stampSignatureGeneration(
        Dedup.minhashSignatures(d2, "text", col("doc_id"), 16), 5L, 16))
    // 4 appended tokens: true J ≈ 0.905 — visible ONLY to the banded
    // tier (bytes and full signature both differ from the snapshot)
    val agedNearDup = s"$long1 q1 q2 q3 q4"
    val currentNearDup = s"$long2 q1 q2 q3 q4"
    val novel = (1 to 40).map(i => s"cx$i").mkString(" ")
    val stream = MemoryStream[(java.sql.Timestamp, String)]
    val q = graft.streaming.StreamingIngest.cleanDocuments(
        stream.toDF().toDF("ts", "text"), watermark = "1 minute",
        minTokens = 5, minQuality = 0.0, nearDupHashes = 16,
        nearDupBands = 4,
        priorKeys = Some(Dedup.retainGenerations(keySnap, minGen = 3L)),
        nearDupPriorSigs =
          Some(Dedup.retainSignatureGenerations(sigSnap, minGen = 3L, 16)))
      .writeStream.format("memory").queryName("sig_ttl_gate_sink")
      .outputMode("append").start()
    try {
      stream.addData(Seq(
        (ts(0), agedNearDup), (ts(1), currentNearDup), (ts(2), novel)))
      q.processAllAvailable()
      val out = spark.table("sig_ttl_gate_sink").select("text").as[String]
        .collect().toSeq
      assert(out == Seq(agedNearDup, novel),
        "the gen-0 near-dup must re-enter (its signature aged out of the " +
          s"banded tier) while the gen-5 near-dup stays blocked: $out")
    } finally q.stop()
  }

  test("continuous archiving: gated stream -> per-batch tar shards via foreachBatch, byte-exact round trip") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    def ts(sec: Int) = new java.sql.Timestamp(1700000000000L + sec * 1000L)
    // the OUTPUT side of the pipeline on a FEED: each micro-batch of
    // accepted documents is archived as WebDataset shards under an
    // epoch directory keyed by batchId — writeShards' determinism and
    // rename-if-absent commit make foreachBatch RETRIES safe (a
    // replayed batch rewrites identical bytes into the same epoch dir)
    val outRoot = java.nio.file.Files.createTempDirectory("stream_tar").toString
    val stream = MemoryStream[(java.sql.Timestamp, String)]
    val cleaned = graft.streaming.StreamingIngest.cleanDocuments(
      stream.toDF().toDF("ts", "text"), watermark = "1 minute",
      minTokens = 3, minQuality = 0.0)
    val q = cleaned.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        val docs = batch.select(
          pmod(graft.ext.TextOps.hash60(col("text")), lit(2L)).as("shard"),
          concat(md5(col("text")), lit(".txt")).as("name"),
          col("text").cast("binary").as("payload"))
        graft.sources.TarShards.writeShards(docs,
          s"$outRoot/epoch-$batchId", "shard", "name", "payload")
        ()
      }
      .outputMode("append").start()
    try {
      val docs1 = Seq("alpha beta gamma delta", "red green blue walls")
      val docs2 = Seq("one more later document arrives")
      stream.addData(docs1.map(d => (ts(0), d)))
      q.processAllAvailable()
      stream.addData(docs2.map(d => (ts(5), d)))
      q.processAllAvailable()
      // every accepted doc is in exactly one epoch's shards, byte-exact
      val archived = graft.sources.TarShards
        .readShards(spark, s"$outRoot/epoch-*")
        .select("body_text").as[String].collect().toSeq.sorted
      assert(archived == (docs1 ++ docs2).sorted, archived)
      val epochs = new java.io.File(outRoot).listFiles.map(_.getName).sorted
      assert(epochs.length >= 2 && epochs.forall(_.startsWith("epoch-")), epochs.toSeq)
    } finally {
      q.stop()
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(outRoot)).iterator()
        .asScala.toSeq.reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("streaming normalized tier: case/punct replicas of snapshot docs blocked, within-stream canonical twins collapse") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val Dedup = graft.ext.Dedup
    def ts(sec: Int) = new java.sql.Timestamp(1700000000000L + sec * 1000L)
    val priorText = "a prior snapshot document with several words."
    val prior = Seq((1L, priorText)).toDF("doc_id", "text")
    val canonKeys = Dedup.canonicalKeys(prior)
    val novel = "a brand new feed document arrives here."
    val feed = Seq(
      priorText, // byte-identical → exact KEY tier
      "  A PRIOR snapshot document, with several words!! ", // normalized tier ONLY
      novel, // kept
      "  " + novel.toUpperCase + " ", // within-stream canonical twin of novel
      "another genuinely different page entirely today.") // kept
    val stream = MemoryStream[(java.sql.Timestamp, String)]
    val cleaned = graft.streaming.StreamingIngest.cleanDocuments(
      stream.toDF().toDF("ts", "text"), watermark = "1 minute",
      minTokens = 3, minQuality = 0.0,
      priorKeys = Some(Dedup.exactKeys(prior)),
      priorCanonKeys = Some(canonKeys))
    val q = cleaned.writeStream.format("memory").queryName("canon_sink")
      .outputMode("append").start()
    try {
      stream.addData(feed.map(d => (ts(0), d)))
      q.processAllAvailable()
      val out = spark.table("canon_sink").select("text").as[String].collect()
      val canon = out.map(t => t.toLowerCase.replaceAll("[^\\p{L}\\p{Nd} ]+", " ")
        .replaceAll(" +", " ").trim).toSet
      // exactly the two novel canonical forms survive: both snapshot
      // replicas blocked, the twin pair collapsed to one row
      assert(out.length == 2, out.toSeq)
      assert(canon == Set(
        "a brand new feed document arrives here",
        "another genuinely different page entirely today"), canon)
      // parity: the batch composition over the same feed keeps the same
      // canonical forms
      val batchKept = Dedup.incrementalNormalizedDedup(
          Dedup.incrementalDedupKeys(
            feed.zipWithIndex.map { case (t, i) => (i.toLong, t) }
              .toDF("doc_id", "text"),
            Dedup.exactKeys(prior)),
          canonKeys)
        .select(graft.ext.Dedup.canonicalText(col("text"))).as[String]
        .collect().toSet
      assert(batchKept == canon, s"stream=$canon batch=$batchKept")
    } finally q.stop()
    // the signature-tier branch composes with the canonical tier too
    val stream2 = MemoryStream[(java.sql.Timestamp, String)]
    val cleaned2 = graft.streaming.StreamingIngest.cleanDocuments(
      stream2.toDF().toDF("ts", "text"), watermark = "1 minute",
      minTokens = 3, minQuality = 0.0, nearDupHashes = 16,
      priorKeys = Some(Dedup.nearDupKeys(prior, numHashes = 16)),
      priorCanonKeys = Some(canonKeys))
    val q2 = cleaned2.writeStream.format("memory").queryName("canon_sink2")
      .outputMode("append").start()
    try {
      stream2.addData(feed.map(d => (ts(0), d)))
      q2.processAllAvailable()
      assert(spark.table("canon_sink2").count() == 2)
    } finally q2.stop()
    // loud rejects: non-projection snapshot; reserved staging column
    intercept[IllegalArgumentException] {
      graft.streaming.StreamingIngest.cleanDocuments(
        stream.toDF().toDF("ts", "text"), priorCanonKeys = Some(prior))
    }
    intercept[IllegalArgumentException] {
      graft.streaming.StreamingIngest.cleanDocuments(
        stream.toDF().toDF("ts", "text")
          .withColumn("_canon_key", lit("x")),
        priorCanonKeys = Some(canonKeys))
    }
  }

  test("streaming semantic gate agrees with the batch incrementalSemDedup") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val Similarity = graft.ext.Similarity
    val rng = new scala.util.Random(41)
    val centers = Array.fill(3)(Array.fill(8)(rng.nextGaussian() * 4))
    def vec(c: Int) = centers(c).map(x => (x + rng.nextGaussian() * 0.4).toFloat).toSeq
    val prior = (0 until 120).map(i => (i.toLong, vec(i % 3))).toDF("vec_id", "embedding")
    val cents = Similarity.kmeansCentroids(prior, k = 3, sampleRows = 200, iters = 10)
    val snap = Similarity.semanticKeys(prior, Flat(cents)).localCheckpoint()
    // feed: jittered paraphrase replicas of prior docs + genuinely far
    // vectors (a fourth region no prior doc occupies)
    val priorRows = prior.as[(Long, Seq[Float])].collect()
    val far = Array.fill(8)(25.0)
    val feed = priorRows.take(30).map { case (id, v) =>
      (1000L + id, v.map(x => x + rng.nextGaussian().toFloat * 0.005f))
    } ++ (0 until 20).map(i =>
      (5000L + i, far.map(x => (x + rng.nextGaussian()).toFloat).toSeq))
    val batchKept = Similarity.incrementalSemDedup(
        feed.toSeq.toDF("vec_id", "embedding"), snap, Flat(cents),
        threshold = 0.999, nprobe = 2, maxCellSize = 100000)
      .select("vec_id").as[Long].collect().toSet
    val stream = MemoryStream[(Long, Seq[Float])]
    val gated = graft.streaming.StreamingIngest.semanticGate(
      stream.toDF().toDF("vec_id", "embedding"), snap, Flat(cents),
      threshold = 0.999, nprobe = 2, maxCellSize = 100000)
    val q = gated.writeStream.format("memory").queryName("sem_gate_sink")
      .outputMode("append").start()
    try {
      stream.addData(feed.toSeq)
      q.processAllAvailable()
      val streamKept = spark.table("sem_gate_sink")
        .select("vec_id").as[Long].collect().toSet
      assert(streamKept == batchKept,
        s"stream-only=${streamKept -- batchKept} batch-only=${batchKept -- streamKept}")
      // the far vectors survive, the replicas are (almost all) blocked
      assert((5000 until 5020).forall(i => streamKept(i.toLong)))
      assert(streamKept.count(id => id >= 1000L && id < 2000L) <= 3)
    } finally q.stop()
    // loud rejects: staged column; non-projection snapshot
    intercept[IllegalArgumentException] {
      graft.streaming.StreamingIngest.semanticGate(
        stream.toDF().toDF("vec_id", "embedding").withColumn("_sc0", lit(1)),
        snap, Flat(cents), 0.9)
    }
    intercept[IllegalArgumentException] {
      graft.streaming.StreamingIngest.semanticGate(
        stream.toDF().toDF("vec_id", "embedding"), prior, Flat(cents), 0.9)
    }
  }

  test("semantic re-key handoff: stop → re-key snapshot → restart; post-swap decisions == batch gate under the grown quantizer") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val Similarity = graft.ext.Similarity
    // the rekeyGolden shape: 16 one-hot-block clusters, exact-in-float
    // jitter; the stale k=2 quantizer leaves both ~100-member cells
    // over a 60-cap so replicas pass ungated — the decay the re-key
    // closes (re-keyed k=16 cells are ~12, far under it)
    val all = spark.range(600).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)),
        i => (when(i % 16 === col("id") % 16, lit(8.0)).otherwise(lit(0.0)) +
          ((col("id") * 31 + i * 7) % 97).cast("double") * lit(0.015625))
          .cast("float")).as("embedding"))
    val cents16 = Array.tabulate(16)(c =>
      Array.tabulate(64)(i => if (i % 16 == c) 8.0 else 0.0))
    val centsStale = Array(cents16(0), cents16(8))
    val prior = all.where($"vec_id" % 3 === 1)
    val snapStale = Similarity.semanticKeys(prior, Flat(centsStale)).localCheckpoint()
    val replicas = prior.where($"vec_id" < 90)
      .select(($"vec_id" + 20000).as("vec_id"), $"embedding")
      .as[(Long, Seq[Float])].collect().toSeq
    def runGate(snap: org.apache.spark.sql.DataFrame,
        cents: Array[Array[Double]], name: String): Set[Long] = {
      val st = MemoryStream[(Long, Seq[Float])]
      val q = graft.streaming.StreamingIngest.semanticGate(
          st.toDF().toDF("vec_id", "embedding"), snap, Flat(cents),
          threshold = 0.999, nprobe = 1, maxCellSize = 60)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        st.addData(replicas)
        q.processAllAvailable()
      } finally q.stop() // the handoff seam: the tier holds no state
      spark.table(name).select("vec_id").as[Long].collect().toSet
    }
    // day 1 under the stale quantizer: cells over cap ⇒ replicas pass
    val day1 = runGate(snapStale, centsStale, "rekey_handoff_d1")
    assert(day1.size == replicas.size, s"stale gate should no-op: ${day1.size}")
    // stop → re-key the SAME snapshot (map-only) → restart on the
    // grown quantizer: the membrane is restored mid-stream
    val rekeyed = Similarity.rekeySemanticSnapshot(snapStale, Flat(cents16))
      .localCheckpoint()
    val day2 = runGate(rekeyed, cents16, "rekey_handoff_d2")
    assert(day2.isEmpty, s"re-keyed gate must block the replicas: $day2")
    // the post-swap stream equals the batch gate under the new quantizer
    val batchKept = Similarity.incrementalSemDedup(
        replicas.toDF("vec_id", "embedding"), rekeyed, Flat(cents16),
        threshold = 0.999, nprobe = 1, maxCellSize = 60)
      .select("vec_id").as[Long].collect().toSet
    assert(day2 == batchKept)
    // ...and the SAME handoff works when the growth step lands past the
    // driver ceiling: re-key the stale snapshot under the COMPOSED 4×4
    // quantizer and restart on the composed twin — decisions equal the
    // composed batch gate (r18's two growth paths compose at the seam)
    val coarse4 = Array.tabulate(4)(b =>
      Array.tabulate(64)(i => if (i % 16 / 4 == b) 2.0 else 0.0))
    val fine4 = Array.tabulate(4)(j =>
      Array.tabulate(64)(i => if (i % 4 == j) 8.0 else 0.0))
    val rekeyed2 = Similarity.rekeySemanticSnapshot(snapStale,
      TwoLevel(coarse4, fine4)).localCheckpoint()
    val st2 = MemoryStream[(Long, Seq[Float])]
    val q2 = graft.streaming.StreamingIngest.semanticGate(
        st2.toDF().toDF("vec_id", "embedding"), rekeyed2, TwoLevel(coarse4, fine4),
        threshold = 0.999, nprobe = 1, maxCellSize = 60)
      .writeStream.format("memory").queryName("rekey_handoff_d3")
      .outputMode("append").start()
    try { st2.addData(replicas); q2.processAllAvailable() } finally q2.stop()
    val day3 = spark.table("rekey_handoff_d3")
      .select("vec_id").as[Long].collect().toSet
    val batchKept2 = Similarity.incrementalSemDedup(
        replicas.toDF("vec_id", "embedding"), rekeyed2, TwoLevel(coarse4, fine4),
        threshold = 0.999, nprobe = 1, maxCellSize = 60)
      .select("vec_id").as[Long].collect().toSet
    assert(day3 == batchKept2 && day3.isEmpty, s"$day3")
  }

  test("composed and PQ semantic twins agree with their batch gates (every gate form keeps its twin)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val Similarity = graft.ext.Similarity
    val all = spark.range(600).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)),
        i => (when(i % 16 === col("id") % 16, lit(8.0)).otherwise(lit(0.0)) +
          ((col("id") * 31 + i * 7) % 97).cast("double") * lit(0.015625))
          .cast("float")).as("embedding"))
    val cents16 = Array.tabulate(16)(c =>
      Array.tabulate(64)(i => if (i % 16 == c) 8.0 else 0.0))
    val coarse4 = Array.tabulate(4)(b =>
      Array.tabulate(64)(i => if (i % 16 / 4 == b) 2.0 else 0.0))
    val fine4 = Array.tabulate(4)(j =>
      Array.tabulate(64)(i => if (i % 4 == j) 8.0 else 0.0))
    val books = Similarity.pqCodebooks(4, 4, 16, seed = 11L)
    val prior = all.where($"vec_id" % 3 === 1)
    val feed = all.where($"vec_id" % 3 === 0 && $"vec_id" < 300)
      .unionByName(prior.where($"vec_id" < 60)
        .select(($"vec_id" + 20000).as("vec_id"), $"embedding"))
      .as[(Long, Seq[Float])].collect().toSeq
    def run(gate: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
        name: String): Set[Long] = {
      val st = MemoryStream[(Long, Seq[Float])]
      val q = gate(st.toDF().toDF("vec_id", "embedding"))
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try { st.addData(feed); q.processAllAvailable() } finally q.stop()
      spark.table(name).select("vec_id").as[Long].collect().toSet
    }
    // composed twin == composed batch gate
    val two4 = TwoLevel(coarse4, fine4)
    val snap2 = Similarity.semanticKeys(prior, two4).localCheckpoint()
    val got2 = run(s => graft.streaming.StreamingIngest.semanticGate(
      s, snap2, two4, threshold = 0.999, nprobe = 1,
      maxCellSize = 200), "sem2_twin")
    val want2 = Similarity.incrementalSemDedup(
        feed.toDF("vec_id", "embedding"), snap2, two4,
        threshold = 0.999, nprobe = 1, maxCellSize = 200)
      .select("vec_id").as[Long].collect().toSet
    assert(got2 == want2,
      s"stream-only=${got2 -- want2} batch-only=${want2 -- got2}")
    assert(got2.forall(_ < 20000), "a replica leaked through the composed twin")
    // PQ twin == PQ batch gate (exact replicas block at this tiny budget)
    val pq = Pq(cents16, books)
    val snapPq = Similarity.semanticKeys(prior, pq).localCheckpoint()
    val gotPq = run(s => graft.streaming.StreamingIngest.semanticGate(
      s, snapPq, pq, threshold = 0.999, nprobe = 1,
      maxCellSize = 200), "sempq_twin")
    val wantPq = Similarity.incrementalSemDedup(
        feed.toDF("vec_id", "embedding"), snapPq, pq,
        threshold = 0.999, nprobe = 1, maxCellSize = 200)
      .select("vec_id").as[Long].collect().toSet
    assert(gotPq == wantPq,
      s"stream-only=${gotPq -- wantPq} batch-only=${wantPq -- gotPq}")
    assert(gotPq.forall(_ < 20000), "a replica leaked through the PQ twin")
    // shape loud-rejects route through the shared fronts
    val st = MemoryStream[(Long, Seq[Float])]
    intercept[IllegalArgumentException] {
      graft.streaming.StreamingIngest.semanticGate(
        st.toDF().toDF("vec_id", "embedding"), snapPq, two4, 0.9)
    }
    intercept[IllegalArgumentException] {
      graft.streaming.StreamingIngest.semanticGate(
        st.toDF().toDF("vec_id", "embedding"), snap2, pq, 0.9)
    }
  }

  test("streaming URL gate agrees with the batch incrementalUrlDedup; retention re-admits") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val Dedup = graft.ext.Dedup
    def ts(sec: Int) = new java.sql.Timestamp(1700000000000L + sec * 1000L)
    val prior = Seq((1L, "https://example.com/a"),
      (2L, "https://example.com/b?id=2")).toDF("doc_id", "url")
    val keys = Dedup.urlKeys(prior).localCheckpoint()
    val feed = Seq(
      (10L, "HTTPS://EXAMPLE.COM/a#frag"), // canonical variant of snapshot
      (11L, "https://example.com/b?utm_source=x&id=2"), // tracking variant
      (12L, "https://example.com/c?id=3"), // novel
      (13L, "https://example.com/c?id=3&utm_term=z"), // within-stream twin
      (14L, "https://example.com/d/"))
    def run(pk: org.apache.spark.sql.DataFrame, name: String): Set[Long] = {
      val st = MemoryStream[(Long, java.sql.Timestamp, String)]
      val gated = graft.streaming.StreamingIngest.urlGate(
        st.toDF().toDF("doc_id", "ts", "url"), pk, watermark = "1 minute")
      val q = gated.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        st.addData(feed.map { case (id, u) => (id, ts(0), u) })
        q.processAllAvailable()
      } finally q.stop()
      spark.table(name).select("doc_id").as[Long].collect().toSet
    }
    val streamKept = run(keys, "url_gate_sink")
    // parity with the batch zeroth tier over the same feed
    val batchKept = Dedup.incrementalUrlDedup(
        feed.toDF("doc_id", "url"), keys)
      .select("doc_id").as[Long].collect().toSet
    assert(streamKept == batchKept && streamKept == Set(12L, 14L),
      s"stream=$streamKept batch=$batchKept")
    // one-knob retention: aged-out url keys re-admit through the stream
    val aged = run(Dedup.retainGenerations(
      Dedup.stampGeneration(keys, 0L), 1L), "url_gate_sink_aged")
    assert(aged == Set(10L, 11L, 12L, 14L), aged)
    // loud rejects: non-projection snapshot; staged column
    val st = MemoryStream[(Long, java.sql.Timestamp, String)]
    intercept[IllegalArgumentException] {
      graft.streaming.StreamingIngest.urlGate(
        st.toDF().toDF("doc_id", "ts", "url"), prior)
    }
    intercept[IllegalArgumentException] {
      graft.streaming.StreamingIngest.urlGate(
        st.toDF().toDF("doc_id", "ts", "url")
          .withColumn("_url_key", lit("x")), keys)
    }
  }

  test("semantic retention composes with the streaming gate: aged-out embeddings re-enter the feed") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val Similarity = graft.ext.Similarity
    val prior = (0 until 40).map(i =>
      (i.toLong, Array.fill(8)((i % 2 + 1).toFloat).toSeq)).toDF("vec_id", "embedding")
    val cents = Array(Array.fill(8)(1.0), Array.fill(8)(2.0))
    val gen0 = graft.ext.Dedup.stampGeneration(
      Similarity.semanticKeys(prior, Flat(cents)), "id", 0L).localCheckpoint()
    val feed = Seq((100L, Array.fill(8)(1.0f).toSeq)) // exact prior replica
    def run(minGen: Long): Long = {
      val st = MemoryStream[(Long, Seq[Float])]
      val gated = graft.streaming.StreamingIngest.semanticGate(
        st.toDF().toDF("vec_id", "embedding"),
        graft.ext.Dedup.retainGenerations(gen0, "id", minGen), Flat(cents),
        threshold = 0.999)
      val name = s"sem_ttl_sink_$minGen"
      val q = gated.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try { st.addData(feed); q.processAllAvailable() } finally q.stop()
      spark.table(name).count()
    }
    // live gen-0 snapshot blocks the replica...
    assert(run(0L) == 0L)
    // ...and the SAME one-knob retention read re-admits it once aged
    assert(run(1L) == 1L)
  }

  test("streaming paragraph strip (foreachBatch) equals the batch stripSeenParagraphs over the concatenated feed") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val Dedup = graft.ext.Dedup
    val day1 = Seq(
      (1L, "Shared header.\nday one body\nFooter 1"),
      (2L, "Shared header.\nother body\nFooter 2")).toDF("doc_id", "text")
    val keys = Dedup.paragraphKeys(day1).localCheckpoint()
    val feed = Seq(
      (10L, "Shared header.\nnovel ten\nday one body"),
      (11L, "all novel\nhere"),
      (12L, "other body\nnovel twelve"),
      (13L, "Shared header.\nFooter 2"))
    val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, String)]()
    val stream = MemoryStream[(Long, String)]
    val q = stream.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch(graft.streaming.StreamingIngest
        .stripSeenParagraphsForeachBatch(keys)(b =>
          out ++= b.select(col("doc_id"), col("n_paras"),
            col("n_seen_paras"), col("clean_text"))
            .as[(Long, Long, Long, String)].collect()))
      .outputMode("append").start()
    try {
      stream.addData(feed.take(2)); q.processAllAvailable()
      stream.addData(feed.drop(2)); q.processAllAvailable()
    } finally q.stop()
    val batch = Dedup.stripSeenParagraphs(feed.toDF("doc_id", "text"), keys)
      .select(col("doc_id"), col("n_paras"), col("n_seen_paras"),
        col("clean_text"))
      .as[(Long, Long, Long, String)].collect().toSet
    assert(out.toSet == batch, s"stream=${out.toSet} batch=$batch")
    assert(batch.find(_._1 == 10L).get._4 == "novel ten")
  }

  test("streaming span strip (foreachBatch) equals the batch stripSeenSpans over the concatenated feed") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val Dedup = graft.ext.Dedup
    val bar = "share this page on social media"
    val day1 = Seq(
      (1L, s"alpha beta gamma $bar"),
      (2L, s"delta epsilon zeta $bar"),
      (3L, s"eta theta iota $bar")).toDF("doc_id", "text")
    val keys = Dedup.spanKeys(day1, n = 3, minDocs = 3).localCheckpoint()
    val feed = Seq(
      (10L, s"totally novel words here $bar"),
      (11L, "no boilerplate at all present"),
      (12L, s"$bar leading boilerplate case"))
    val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, String)]()
    val stream = MemoryStream[(Long, String)]
    val q = stream.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch(graft.streaming.StreamingIngest
        .stripSeenSpansForeachBatch(keys, n = 3)(b =>
          out ++= b.select(col("doc_id"), col("n_tokens"),
            col("n_removed"), col("clean_text"))
            .as[(Long, Long, Long, String)].collect()))
      .outputMode("append").start()
    try {
      stream.addData(feed.take(2)); q.processAllAvailable()
      stream.addData(feed.drop(2)); q.processAllAvailable()
    } finally q.stop()
    val batch = Dedup.stripSeenSpans(feed.toDF("doc_id", "text"), keys, n = 3)
      .select(col("doc_id"), col("n_tokens"), col("n_removed"),
        col("clean_text"))
      .as[(Long, Long, Long, String)].collect().toSet
    assert(out.toSet == batch, s"stream=${out.toSet} batch=$batch")
    assert(batch.find(_._1 == 10L).get._4 == "totally novel words here")
  }

  test("cleanDocuments loud-rejects feeds carrying any gate-staged column") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val Dedup = graft.ext.Dedup
    val prior = Seq((1L, "a prior snapshot document.")).toDF("doc_id", "text")
    val stream = MemoryStream[(java.sql.Timestamp, String)]
    def feedWith(c: String) =
      stream.toDF().toDF("ts", "text").withColumn(c, lit("x"))
    // always-appended output columns
    for (c <- Seq("content_hash", "n_tokens", "quality", "en_ratio",
        "top_bigram_frac")) {
      val e = intercept[IllegalArgumentException] {
        graft.streaming.StreamingIngest.cleanDocuments(feedWith(c))
      }
      assert(e.getMessage.contains(c), e.getMessage)
    }
    // tier-scoped staging columns: the JOINED flags (_seen/_canon_seen)
    // would previously die with an undiagnostic ambiguous-column
    // AnalysisException at query start instead of the designed message
    val e1 = intercept[IllegalArgumentException] {
      graft.streaming.StreamingIngest.cleanDocuments(feedWith("_canon_seen"),
        priorCanonKeys = Some(Dedup.canonicalKeys(prior)))
    }
    assert(e1.getMessage.contains("_canon_seen"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      graft.streaming.StreamingIngest.cleanDocuments(feedWith("_seen"),
        priorKeys = Some(Dedup.exactKeys(prior)))
    }
    assert(e2.getMessage.contains("_seen"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException] {
      graft.streaming.StreamingIngest.cleanDocuments(feedWith("_k1"),
        nearDupHashes = 16, nearDupBands = 4,
        priorKeys = Some(Dedup.nearDupKeys(prior, numHashes = 16)),
        nearDupPriorSigs = Some(
          Dedup.minhashSignatures(prior, "text", col("doc_id"), 16)))
    }
    assert(e3.getMessage.contains("_k1"), e3.getMessage)
    // and a tier-scoped column on a feed NOT running that tier is fine
    val ok = graft.streaming.StreamingIngest.cleanDocuments(
      feedWith("_canon_seen").withColumn("_bkeys", lit("y")))
    assert(ok.isStreaming)
  }

  test("streaming attrition reports sum to the batch attritionReport over the same feed") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    def ts(sec: Int) = new java.sql.Timestamp(1700000000000L + sec * 1000L)
    val stages = Seq(
      "min_tokens" -> (size(split(col("text"), " ")) >= 4),
      "no_spam" -> !col("text").contains("spam"),
      "has_period" -> col("text").endsWith("."))
    val feed1 = Seq(
      "one two.", // fails min_tokens
      "a clean long document sentence.", // passes all
      "buy spam now cheap today.") // fails no_spam
    val feed2 = Seq(
      "another good long accepted sentence.", // passes all
      "ends without a terminal period here") // fails has_period
    val reports = scala.collection.mutable.ArrayBuffer[
      (Long, Int, String, Long, Long, Long)]()
    val stream = MemoryStream[(java.sql.Timestamp, String)]
    val q = stream.toDF().toDF("ts", "text").writeStream
      .foreachBatch(
        graft.streaming.StreamingIngest.attritionForeachBatch(stages) { r =>
          reports ++= r
            .select(col("batch_id"), col("stage_idx"), col("stage"),
              col("n_in"), col("n_kept"), col("n_dropped"))
            .as[(Long, Int, String, Long, Long, Long)].collect()
          ()
        })
      .outputMode("append").start()
    try {
      stream.addData(feed1.map(d => (ts(0), d)))
      q.processAllAvailable()
      stream.addData(feed2.map(d => (ts(5), d)))
      q.processAllAvailable()
    } finally q.stop()
    assert(reports.map(_._1).toSet == Set(0L, 1L), reports.map(_._1).toSet)
    // per-batch conservation: n_in(k+1) == n_kept(k) within each batch
    reports.groupBy(_._1).foreach { case (b, rs) =>
      val byIdx = rs.sortBy(_._2)
      byIdx.sliding(2).foreach { w =>
        if (w.length == 2)
          assert(w(1)._4 == w(0)._5, s"batch $b: ${w(0)} -> ${w(1)}")
      }
    }
    // ADDITIVITY — the parity contract: summed streaming counts equal the
    // batch report over the concatenated feed
    val summed = reports.groupBy(r => (r._2, r._3)).view
      .mapValues(rs => (rs.map(_._4).sum, rs.map(_._5).sum, rs.map(_._6).sum))
      .toMap
    val batchRep = graft.ext.Cleaning.attritionReport(
        (feed1 ++ feed2).zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("doc_id", "text"), stages)
      .select(col("stage_idx"), col("stage"), col("n_in"), col("n_kept"),
        col("n_dropped"))
      .as[(Int, String, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    assert(summed == batchRep, s"stream=$summed batch=$batchRep")
    // and the fixture exercises every stage: each drops at least one doc
    assert(batchRep.values.forall(_._3 >= 1), batchRep)
  }

  test("streaming banded prior gate agrees with the batch incrementalBandedNearDedup") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    def ts(sec: Int) = new java.sql.Timestamp(1700000000000L + sec * 1000L)
    val long1 = (1 to 40).map(i => s"w$i").mkString(" ")
    val prior = Seq((1L, long1)).toDF("doc_id", "text")
    // 20 appended tokens: signature differs (not caught by the key gate)
    // but 14/16 slots agree — est J 0.875 ≥ 0.8 → only the banded tier
    // drops it; the two keepers are a novel doc and a J ≈ 0.15 doc
    val nearDup = long1 + " " + (1 to 20).map(i => s"q$i").mkString(" ")
    val novel = (1 to 40).map(i => s"x$i").mkString(" ")
    val farDup = ((1 to 12).map(i => s"w$i") ++ (1 to 28).map(i => s"z$i")).mkString(" ")
    val shingleless = "a b" // empty signature: must PASS the tier, not crash
    val priorSigs = graft.ext.Dedup.minhashSignatures(prior, "text", col("doc_id"), 16)
    // both prior-side paths: text-derived signatures and the precomputed
    // minhashSignatures snapshot table
    for ((sigOpt, tag) <- Seq((None, "text"), (Some(priorSigs), "sigs"))) {
      val stream = MemoryStream[(java.sql.Timestamp, String)]
      val cleaned = graft.streaming.StreamingIngest.cleanDocuments(
        stream.toDF().toDF("ts", "text"), watermark = "1 minute",
        minTokens = 0, minQuality = 0.0, nearDupHashes = 16,
        priorDocs = Some(prior), nearDupBands = 4,
        nearDupPriorSigs = sigOpt)
      val sink = s"banded_prior_sink_$tag"
      val q = cleaned.writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try {
        stream.addData(Seq((ts(0), nearDup), (ts(1), novel), (ts(2), farDup),
          (ts(3), shingleless)))
        q.processAllAvailable()
        val out = spark.table(sink).select("text").as[String].collect().toSet
        assert(out == Set(novel, farDup, shingleless),
          s"[$tag] banded prior tier must drop the est-J≥0.8 doc only: ${out.map(_.take(20))}")
        // batch twin agreement on the same inputs
        val batchKept = graft.ext.Dedup.incrementalBandedNearDedup(
            Seq((10L, nearDup), (11L, novel), (12L, farDup), (13L, shingleless))
              .toDF("doc_id", "text"),
            priorSigs, numHashes = 16, bands = 4, threshold = 0.8)
          .select("text").as[String].collect().toSet
        assert(batchKept == out,
          s"[$tag] batch incrementalBandedNearDedup must agree with the streaming banded gate")
      } finally q.stop()
    }
    // misconfiguration fails fast instead of silently skipping the gate
    intercept[IllegalArgumentException] {
      graft.streaming.StreamingIngest.cleanDocuments(
        MemoryStream[(java.sql.Timestamp, String)].toDF().toDF("ts", "text"),
        nearDupHashes = 0, nearDupBands = 4, priorDocs = Some(prior))
    }
  }

  test("streaming funnel completions agree with the batch funnel's completers") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    def ts(sec: Int) = new java.sql.Timestamp(1700000000000L + sec * 1000L)
    val stages = Seq("view", "click", "buy")
    val fixture = Seq(
      (1L, 10, "view"), (1L, 20, "click"), (1L, 30, "buy"),   // completes
      (2L, 5, "click"), (2L, 15, "view"), (2L, 25, "click"),  // no buy
      (3L, 7, "view"), (3L, 8, "buy"),                        // skips click
      (4L, 1, "view"), (4L, 2, "click"), (4L, 3, "buy"),      // completes
      (4L, 9, "view"))                                        // post-completion noise
    val stream = MemoryStream[(Long, java.sql.Timestamp, String)]
    val out = graft.streaming.StreamingFunnel.funnel(
      stream.toDF().toDF("user_id", "ts", "event_type"), stages, "1 minute")
    val q = out.writeStream.format("memory").queryName("funnel_sink")
      .outputMode("append").start()
    try {
      // two event-time-ordered micro-batches
      val (b1, b2) = fixture.map { case (u, s, t) => (u, ts(s), t) }
        .partition(_._2.getTime < ts(9).getTime)
      stream.addData(b1); q.processAllAvailable()
      stream.addData(b2); q.processAllAvailable()
      // completions emit once the watermark seals the events: advance it
      // far past the fixture with a sentinel user (view-only — no effect
      // on the completion set)
      stream.addData(Seq((99L, ts(100000), "view"))); q.processAllAvailable()
      val streamed = spark.table("funnel_sink")
        .select("userId").as[Long].collect().toSet
      val batch = graft.queries.EventQueries.funnel(
          fixture.map { case (u, s, t) => (u, s.toLong, t) }
            .toDF("user_id", "ts", "event_type"),
          "user_id", "ts", "event_type", stages)
        .where(col("t3").isNotNull)
        .select("user_id").as[Long].collect().toSet
      assert(streamed == batch && streamed == Set(1L, 4L))
    } finally q.stop()
  }

  test("funnel re-entry contract: batch reports the first traversal, streaming emits one row per traversal") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(sec: Int) = new java.sql.Timestamp(1700000000000L + sec * 1000L)
    val stages = Seq("view", "click", "buy")
    val trav1 = Seq((1L, 10, "view"), (1L, 20, "click"), (1L, 30, "buy"))
    val trav2 = Seq((1L, 200, "view"), (1L, 210, "click"), (1L, 220, "buy"))
    // BATCH contract: one row per user carrying the FIRST traversal's
    // times — the greedy time-ordered scan stops at the first completion
    // (StreamingFunnel scaladoc "One completion per funnel traversal")
    val batchF = graft.queries.EventQueries.funnel(
      (trav1 ++ trav2).map { case (u, s, t) => (u, ts(s).getTime, t) }
        .toDF("user_id", "ts", "event_type"),
      "user_id", "ts", "event_type", stages).collect()
    assert(batchF.length == 1, s"batch reports each user once: ${batchF.toSeq}")
    assert(batchF.head.getLong(1) == ts(10).getTime &&
      batchF.head.getLong(2) == ts(20).getTime &&
      batchF.head.getLong(3) == ts(30).getTime,
      "batch must report the FIRST traversal's stage times")
    // STREAMING contract: state drops on completion, so a second full
    // traversal delivered after the first seals emits a SECOND row —
    // the documented asymmetry; parity holds for one-traversal users
    val stream = MemoryStream[(Long, java.sql.Timestamp, String)]
    val out = graft.streaming.StreamingFunnel.funnel(
      stream.toDF().toDF("user_id", "ts", "event_type"), stages, "0 seconds")
    val q = out.writeStream.format("memory").queryName("funnel_reentry_sink")
      .outputMode("append").start()
    def completions: Seq[(Long, Long, Long)] =
      spark.table("funnel_reentry_sink")
        .select("userId", "firstMs", "lastMs").as[(Long, Long, Long)]
        .collect().toSeq.sortBy(_._2)
    def awaitCompletions(n: Int): Unit = {
      val deadline = System.currentTimeMillis() + 30000L
      while (completions.length < n && System.currentTimeMillis() < deadline) {
        Thread.sleep(100L); q.processAllAvailable()
      }
    }
    try {
      stream.addData(trav1.map { case (u, s, t) => (u, ts(s), t) })
      q.processAllAvailable()
      stream.addData(Seq((99L, ts(100), "view"))); q.processAllAvailable()
      awaitCompletions(1)
      assert(completions == Seq((1L, ts(10).getTime, ts(30).getTime)))
      stream.addData(trav2.map { case (u, s, t) => (u, ts(s), t) })
      q.processAllAvailable()
      stream.addData(Seq((99L, ts(300), "view"))); q.processAllAvailable()
      awaitCompletions(2)
      assert(completions == Seq(
        (1L, ts(10).getTime, ts(30).getTime),
        (1L, ts(200).getTime, ts(220).getTime)),
        s"re-entry after completion must emit again: $completions")
    } finally q.stop()
  }

  test("funnel under event-time disorder: within-watermark reorder, beyond-watermark drop") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(sec: Int) = new java.sql.Timestamp(1700000000000L + sec * 1000L)
    val stages = Seq("view", "click", "buy")
    val stream = MemoryStream[(Long, java.sql.Timestamp, String)]
    // 5-minute watermark delay: disorder inside it must be REORDERED
    val out = graft.streaming.StreamingFunnel.funnel(
      stream.toDF().toDF("user_id", "ts", "event_type"), stages, "5 minutes")
    val q = out.writeStream.format("memory").queryName("funnel_disorder_sink")
      .outputMode("append").start()
    try {
      // user 1 completes view(10) < click(20) < buy(30) but DELIVERY is
      // shuffled across batches: buy arrives first, view arrives LAST.
      // user 2's click(40) arrives one batch late but within watermark.
      stream.addData(Seq((1L, ts(30), "buy"), (2L, ts(35), "view")))
      q.processAllAvailable()
      stream.addData(Seq((1L, ts(20), "click"), (2L, ts(50), "buy")))
      q.processAllAvailable()
      stream.addData(Seq((1L, ts(10), "view"), (2L, ts(40), "click")))
      q.processAllAvailable()
      // seal everything: sentinel pushes the watermark far past the fixture
      stream.addData(Seq((99L, ts(100000), "view")))
      q.processAllAvailable()
      val got = spark.table("funnel_disorder_sink")
        .select("userId", "firstMs", "lastMs").as[(Long, Long, Long)]
        .collect().sortBy(_._1)
      // both users complete with the CORRECT event-time stage order
      assert(got.toSeq == Seq(
        (1L, ts(10).getTime, ts(30).getTime),
        (2L, ts(35).getTime, ts(50).getTime)), s"got: ${got.toSeq}")

      // batch-operator agreement on the same (disordered-delivery) multiset
      val batch = graft.queries.EventQueries.funnel(
          Seq((1L, 30L, "buy"), (2L, 35L, "view"), (1L, 20L, "click"),
            (2L, 50L, "buy"), (1L, 10L, "view"), (2L, 40L, "click"))
            .toDF("user_id", "ts", "event_type"),
          "user_id", "ts", "event_type", stages)
        .where(org.apache.spark.sql.functions.col("t3").isNotNull)
        .select("user_id").as[Long].collect().toSet
      assert(batch == Set(1L, 2L))
    } finally q.stop()

    // beyond-watermark lateness DROPS the event (stage never reached)
    val stream2 = MemoryStream[(Long, java.sql.Timestamp, String)]
    val out2 = graft.streaming.StreamingFunnel.funnel(
      stream2.toDF().toDF("user_id", "ts", "event_type"), stages, "0 seconds")
    val q2 = out2.writeStream.format("memory").queryName("funnel_late_sink")
      .outputMode("append").start()
    try {
      stream2.addData(Seq((1L, ts(10), "view"), (1L, ts(30), "buy")))
      q2.processAllAvailable() // watermark now ts(30)
      // click(20) arrives BELOW the watermark → late-row filter drops it
      stream2.addData(Seq((1L, ts(20), "click")))
      q2.processAllAvailable()
      stream2.addData(Seq((99L, ts(100000), "view")))
      q2.processAllAvailable()
      assert(spark.table("funnel_late_sink").count() == 0,
        "a beyond-watermark stage event must be dropped, not folded")
    } finally q2.stop()
  }

  test("funnel idle-TTL: abandoned partial progress is evicted, re-entry restarts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(sec: Int) = new java.sql.Timestamp(1700000000000L + sec * 1000L)
    val stages = Seq("view", "click", "buy")
    val stream = MemoryStream[(Long, java.sql.Timestamp, String)]
    // 10-second event-time TTL so the fixture can cross it
    val out = graft.streaming.StreamingFunnel.funnel(
      stream.toDF().toDF("user_id", "ts", "event_type"), stages, "0 seconds",
      idleTtlMs = 10000L)
    val q = out.writeStream.format("memory").queryName("funnel_ttl_sink")
      .outputMode("append").start()
    def stateRows: Long = {
      val p = q.lastProgress
      p.stateOperators.map(_.numRowsTotal).sum
    }
    // the timeout sweep runs in Spark's TRAILING no-data batch, which
    // processAllAvailable does not strictly guarantee has completed —
    // poll instead of asserting the count once (ADVICE r12)
    def awaitStateRows(expect: Long, hint: String): Unit = {
      val deadline = System.currentTimeMillis() + 30000L
      var cur = stateRows
      while (cur != expect && System.currentTimeMillis() < deadline) {
        Thread.sleep(100L); q.processAllAvailable(); cur = stateRows
      }
      assert(cur == expect, s"$hint: expected $expect state rows, got $cur")
    }
    try {
      // user 1 makes stage-1 progress then goes silent forever
      stream.addData(Seq((1L, ts(10), "view"))); q.processAllAvailable()
      // sentinel advances the watermark to ts(1000): user 1's view gets
      // sealed into partial progress (times=[t1], empty buffer) with an
      // idle deadline of wm+TTL = ts(1010) — pre-r12 this state
      // registered NO timeout and lived forever
      stream.addData(Seq((99L, ts(1000), "view"))); q.processAllAvailable()
      awaitStateRows(2L, "user 1 + sentinel expected")
      // watermark ts(2000) passes the idle deadline: the timeout sweep
      // (Spark's trailing no-data batch) must evict the abandoned state
      stream.addData(Seq((99L, ts(2000), "view"))); q.processAllAvailable()
      awaitStateRows(1L, "abandoned partial-progress state must be evicted at the TTL")
      assert(spark.table("funnel_ttl_sink").count() == 0)
      // re-entry AFTER eviction restarts from stage 1 and can complete
      stream.addData(Seq((1L, ts(4000), "view"), (1L, ts(4010), "click"),
        (1L, ts(4020), "buy"))); q.processAllAvailable()
      stream.addData(Seq((99L, ts(100000), "view"))); q.processAllAvailable()
      stream.addData(Seq((99L, ts(100001), "view"))); q.processAllAvailable()
      val got = spark.table("funnel_ttl_sink")
        .select("userId", "firstMs", "lastMs").as[(Long, Long, Long)].collect()
      assert(got.toSeq == Seq((1L, ts(4000).getTime, ts(4020).getTime)),
        s"got: ${got.toSeq}")
    } finally q.stop()
  }

  test("funnel idle-TTL derives from accepted progress: irrelevant-event spam cannot extend it") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(sec: Int) = new java.sql.Timestamp(1700000000000L + sec * 1000L)
    val stream = MemoryStream[(Long, java.sql.Timestamp, String)]
    // 100-second TTL; user 1's only ACCEPTED stage event is view@10, so
    // the idle deadline is pinned at ts(110) no matter what else arrives
    val out = graft.streaming.StreamingFunnel.funnel(
      stream.toDF().toDF("user_id", "ts", "event_type"),
      Seq("view", "click", "buy"), "0 seconds", idleTtlMs = 100000L)
    val q = out.writeStream.format("memory").queryName("funnel_ttl_spam_sink")
      .outputMode("append").start()
    def stateRows: Long = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    def awaitStateRows(expect: Long, hint: String): Unit = {
      val deadline = System.currentTimeMillis() + 30000L
      var cur = stateRows
      while (cur != expect && System.currentTimeMillis() < deadline) {
        Thread.sleep(100L); q.processAllAvailable(); cur = stateRows
      }
      assert(cur == expect, s"$hint: expected $expect state rows, got $cur")
    }
    try {
      stream.addData(Seq((1L, ts(10), "view"))); q.processAllAvailable()
      // sentinel seals user 1's progress: times=[ts(10)], deadline ts(110)
      stream.addData(Seq((99L, ts(20), "view"))); q.processAllAvailable()
      awaitStateRows(2L, "user 1 + sentinel expected")
      // spam: non-stage event types for user 1 — pre-fix each invocation
      // refreshed the deadline to watermark+TTL (ts(120), then ts(205)),
      // keeping the state alive as long as the spam continues
      stream.addData(Seq((1L, ts(100), "noise"))); q.processAllAvailable()
      stream.addData(Seq((1L, ts(105), "noise"))); q.processAllAvailable()
      awaitStateRows(2L, "spam must not evict early either")
      // watermark ts(112) is past the PINNED deadline ts(110) but well
      // before any spam-refreshed one: user 1 must be evicted
      stream.addData(Seq((99L, ts(112), "view"))); q.processAllAvailable()
      awaitStateRows(1L, "idle deadline must derive from accepted progress, not spam")
      assert(spark.table("funnel_ttl_spam_sink").count() == 0)
    } finally q.stop()
  }

  test("sessionizer under event-time disorder: backward extension, bridging, late drop") {
    import spark.implicits._
    import graft.streaming.StreamingSessionizer
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1700000000L
    def ts(sec: Long) = new java.sql.Timestamp((t0 + sec) * 1000L)
    val stream = MemoryStream[(Long, java.sql.Timestamp)]
    val sessions = StreamingSessionizer.sessionize(
      stream.toDF().toDF("user_id", "ts"), gapSec = 60,
      watermark = "10 minutes")
    val q = sessions.writeStream.format("memory").queryName("sess_disorder_sink")
      .outputMode("append").start()
    try {
      // user 1: one true session {0, 50, 100, 150} delivered completely
      // out of order across batches; 100 BRIDGES the tentative sessions
      // {0,50} and {150} (gaps 50 ≤ 60 each side), 0 extends the start
      // BACKWARD after later events arrived.
      stream.addData(Seq((1L, ts(50)), (1L, ts(150))))
      q.processAllAvailable()
      stream.addData(Seq((1L, ts(100)), (1L, ts(0))))
      q.processAllAvailable()
      // user 2: two sessions, second delivered before first
      stream.addData(Seq((2L, ts(500))))
      q.processAllAvailable()
      stream.addData(Seq((2L, ts(300))))
      q.processAllAvailable()
      // sentinel far in the future seals everything via timeout
      stream.addData(Seq((999L, ts(1000000))))
      q.processAllAvailable()
      val got = spark.table("sess_disorder_sink")
        .where($"userId" =!= 999L)
        .select("userId", "startSec", "endSec", "nEvents")
        .as[(Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
      assert(got.toSeq == Seq(
        (1L, t0, t0 + 150, 4L),
        (2L, t0 + 300, t0 + 300, 1L),
        (2L, t0 + 500, t0 + 500, 1L)), s"got: ${got.toSeq}")
    } finally q.stop()

    // beyond-watermark lateness: the late event is dropped, the already
    // sealed session is untouched (never a corrupted/backward session)
    val stream2 = MemoryStream[(Long, java.sql.Timestamp)]
    val sessions2 = StreamingSessionizer.sessionize(
      stream2.toDF().toDF("user_id", "ts"), gapSec = 60, watermark = "0 seconds")
    val q2 = sessions2.writeStream.format("memory").queryName("sess_late_sink")
      .outputMode("append").start()
    try {
      stream2.addData(Seq((1L, ts(1000))))
      q2.processAllAvailable()
      stream2.addData(Seq((9L, ts(5000)))) // watermark → ts(5000), seals user 1
      q2.processAllAvailable()
      // ts(900) is far below the watermark → dropped by the late-row filter
      stream2.addData(Seq((1L, ts(900))))
      q2.processAllAvailable()
      stream2.addData(Seq((9L, ts(9000))))
      q2.processAllAvailable()
      val got = spark.table("sess_late_sink").where($"userId" === 1L)
        .select("startSec", "endSec", "nEvents").as[(Long, Long, Long)]
        .collect().toSeq
      assert(got == Seq((t0 + 1000, t0 + 1000, 1L)), s"got: $got")
    } finally q2.stop()
  }

  test("sessionizer: randomized shuffled delivery equals the batch gap-split (seeded)") {
    import spark.implicits._
    import graft.streaming.StreamingSessionizer
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1700000000L
    val gap = 60L
    for (seed <- Seq(3, 19)) {
      val rng = new scala.util.Random(seed)
      // 8 users x ~25 events in a 2000-second span: sessions form naturally
      val events = (0 until 200).map { _ =>
        (rng.nextInt(8).toLong + 1L, t0 + rng.nextInt(2000).toLong)
      }.distinct
      // reference: per user, sort, split on gap > 60
      val want = events.groupBy(_._1).flatMap { case (u, evs) =>
        val secs = evs.map(_._2).sorted
        val sessions = secs.tail.foldLeft(List(List(secs.head))) { (acc, s) =>
          if (s - acc.head.head > gap) List(s) :: acc
          else (s :: acc.head) :: acc.tail
        }
        sessions.map(ss => (u, ss.min, ss.max, ss.length.toLong))
      }.toSet
      // delivery: random order, random batch boundaries, huge watermark
      // delay so nothing is dropped — pure disorder, no lateness
      val shuffled = rng.shuffle(events)
      val batches = shuffled.grouped(1 + rng.nextInt(40)).toSeq
      val stream = MemoryStream[(Long, java.sql.Timestamp)]
      val sessions = StreamingSessionizer.sessionize(
        stream.toDF().toDF("user_id", "ts"), gapSec = gap, watermark = "1 hour")
      val q = sessions.writeStream.format("memory")
        .queryName(s"sess_rand_$seed").outputMode("append").start()
      try {
        batches.foreach { b =>
          stream.addData(b.map(e => (e._1, new java.sql.Timestamp(e._2 * 1000L))))
          q.processAllAvailable()
        }
        // seal everything
        stream.addData(Seq((99L, new java.sql.Timestamp((t0 + 100000) * 1000L))))
        q.processAllAvailable()
        val got = spark.table(s"sess_rand_$seed").where($"userId" =!= 99L)
          .select("userId", "startSec", "endSec", "nEvents")
          .as[(Long, Long, Long, Long)].collect().toSet
        assert(got == want,
          s"seed $seed: missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
      } finally q.stop()
    }
  }

  test("streaming cleaning stages (fixText + C4 + PII) agree with the batch operators") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    def ts(sec: Int) = new java.sql.Timestamp(1700000000000L + sec * 1000L)
    def page(lines: String*) = lines.mkString("\n")
    val keeper = page(
      "A first healthy sentence with plenty of words right here.",
      "Contact me at someone@example.com for all further details.",
      "A third solid sentence keeps this page over the threshold.")
    val dirty = "  " + keeper // leading whitespace fixText must trim
    val jsPage = page(
      "Please enable javascript to continue browsing this site now.",
      "Second line without terminal punctuation so it drops",
      "short one.")
    val stream = MemoryStream[(java.sql.Timestamp, String)]
    val cleaned = graft.streaming.StreamingIngest.cleanDocuments(
      stream.toDF().toDF("ts", "text"), watermark = "1 minute", minTokens = 5,
      minQuality = 0.0, fixUnicode = true, c4 = true, redactPii = true)
    val q = cleaned.writeStream.format("memory").queryName("clean_sink")
      .outputMode("append").start()
    try {
      stream.addData(Seq((ts(0), dirty), (ts(1), jsPage)))
      q.processAllAvailable()
      val out = spark.table("clean_sink").select("text").as[String].collect()
      // the js page loses every line -> page dropped; the keeper survives
      // with its email redacted, exactly as the batch composition yields
      val batch = graft.ext.Cleaning.withC4Columns(
          Seq((1L, dirty), (2L, jsPage)).toDF("doc_id", "text")
            .select(col("doc_id"), graft.ext.Cleaning.fixText(col("text")).as("text")), "text")
        .where(col("page_keep") === 1)
        .select(graft.ext.Cleaning.redactText(col("clean_text")).as("text"))
        .as[String].collect()
      assert(out.toSeq == batch.toSeq, s"stream=$out batch=${batch.toSeq}")
      assert(out.length == 1 && out.head.contains("[EMAIL]") && !out.head.contains("@"))
    } finally q.stop()
  }

  test("streaming repetition gate agrees with the batch Gopher top-bigram rule") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, round}
    implicit val sqlCtx = spark.sqlContext
    def ts(sec: Int) = new java.sql.Timestamp(1700000000000L + sec * 1000L)
    val clean = "the quick brown fox jumps over the lazy dog near the river bank today"
    val loopy = "buy now buy now buy now buy now buy now buy now buy now please"
    // batch side: the keyed-aggregation fraction on the same two docs
    val batchFrac = graft.ext.CorpusFilters
      .repetitionStats(Seq((1L, clean), (2L, loopy)).toDF("doc_id", "text"))
      .select("doc_id", "top_bigram_frac").as[(Long, Double)].collect().toMap
    assert(batchFrac(2L) > 0.5 && batchFrac(1L) < 0.2)
    val stream = MemoryStream[(java.sql.Timestamp, String)]
    val cleaned = graft.streaming.StreamingIngest.cleanDocuments(
      stream.toDF().toDF("ts", "text"), watermark = "1 minute", minTokens = 5,
      minQuality = 0.0, maxTopBigramFrac = 0.3)
    val q = cleaned.writeStream.format("memory").queryName("rep_gate_sink")
      .outputMode("append").start()
    try {
      stream.addData(Seq((ts(0), clean), (ts(1), loopy)))
      q.processAllAvailable()
      val out = spark.table("rep_gate_sink")
        .select(col("text"), round(col("top_bigram_frac"), 5).as("f"))
        .as[(String, Double)].collect().toMap
      assert(out.contains(clean) && !out.contains(loopy),
        s"repetitive doc must be gated out: ${out.keySet.map(_.take(20))}")
      // the shuffle-free array expression computes the identical fraction
      assert(math.abs(out(clean) - batchFrac(1L)) < 1e-9)
    } finally q.stop()
  }

  test("streaming near-dup gate collapses shingle-set-identical docs within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(sec: Int) = new java.sql.Timestamp(1700000000000L + sec * 1000L)
    // rotations share the same SHINGLE SET but different bytes
    val rotA = "alpha beta gamma alpha beta gamma"
    val rotB = "beta gamma alpha beta gamma alpha"
    val other = "an unrelated document with plenty of ordinary tokens inside it"
    val stream = MemoryStream[(java.sql.Timestamp, String)]
    val cleaned = graft.streaming.StreamingIngest.cleanDocuments(
      stream.toDF().toDF("ts", "text"), watermark = "1 minute", minTokens = 5,
      minQuality = 0.0, nearDupHashes = 16)
    val q = cleaned.writeStream.format("memory").queryName("neardup_sink")
      .outputMode("append").start()
    try {
      stream.addData(Seq((ts(0), rotA), (ts(1), rotB), (ts(2), other), (ts(3), other)))
      q.processAllAvailable()
      val out = spark.table("neardup_sink").select("text").as[String].collect()
      assert(out.count(_ == other) == 1, "exact dup must still collapse")
      assert((out.contains(rotA) && !out.contains(rotB)) ||
        (out.contains(rotB) && !out.contains(rotA)),
        s"byte-different shingle-set-identical docs must collapse to one: ${out.toSeq}")
      assert(out.length == 2)
    } finally q.stop()
  }

  test("continuous training: micro-batches extend the ensemble and reduce error") {
    import spark.implicits._
    import graft.streaming.StreamingTrainer
    val rng = new scala.util.Random(41)
    def batchRows(n: Int) = (0 until n).map { _ =>
      val x = Seq(rng.nextGaussian(), rng.nextGaussian())
      (x, 2.0 * x(0) - 3.0 * x(1))
    }
    val st = new StreamingTrainer(
      TrainParams(numRounds = 3, maxDepth = 3, eta = 0.4, maxBin = 32, seed = 9,
        minTrainPartitions = 0))

    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Seq[Double], Double)]
    val q = stream.toDF().toDF("features", "label")
      .writeStream.foreachBatch(st.sink()).outputMode("append").start()
    try {
      def rmse(m: graft.model.BoosterModel): Double = {
        val test = batchRows(500)
        math.sqrt(test.map { case (x, y) =>
          val p = m.margin(x.toArray)(0); (p - y) * (p - y)
        }.sum / test.size)
      }
      stream.addData(batchRows(1500)); q.processAllAvailable()
      val m1 = st.model.get
      assert(m1.trees.length == 3)
      val r1 = rmse(m1)
      (0 until 3).foreach { _ => stream.addData(batchRows(1500)); q.processAllAvailable() }
      val m4 = st.model.get
      assert(m4.trees.length == 12, s"3 rounds x 4 batches, got ${m4.trees.length}")
      val r4 = rmse(m4)
      assert(r4 < r1 * 0.8, s"continued ensemble should improve: $r1 -> $r4")
      // earlier generations' trees are a strict prefix (pure continuation)
      assert(m4.trees.take(3).map(_.toString).sameElements(m1.trees.map(_.toString)))
    } finally q.stop()
  }

  test("continuous training bounds the ensemble at maxTrees") {
    import spark.implicits._
    import graft.streaming.StreamingTrainer
    val rng = new scala.util.Random(43)
    val st = new StreamingTrainer(
      TrainParams(numRounds = 2, maxDepth = 2, eta = 0.3, maxBin = 16, seed = 1,
        minTrainPartitions = 0), maxTrees = 5)
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Seq[Double], Double)]
    val q = stream.toDF().toDF("features", "label")
      .writeStream.foreachBatch(st.sink()).outputMode("append").start()
    try {
      (0 until 4).foreach { _ =>
        stream.addData((0 until 300).map { _ =>
          val x = Seq(rng.nextGaussian()); (x, x(0) * 5.0)
        })
        q.processAllAvailable()
      }
      assert(st.model.get.trees.length == 5,
        s"8 grown, bounded to 5: ${st.model.get.trees.length}")
    } finally q.stop()
  }

  test("maxTrees slice folds dropped trees' contribution into baseScore") {
    import graft.streaming.StreamingTrainer
    val sc = spark.sparkContext
    val rng = new scala.util.Random(11)
    // baseScore pinned at 0 so the EARLIEST trees must carry the label mean
    // (~10); slicing them off uncompensated would shift every prediction
    // down by that amount
    val st = new StreamingTrainer(
      TrainParams(numRounds = 2, maxDepth = 2, eta = 0.5, maxBin = 16, seed = 3,
        baseScore = Some(0.0), minTrainPartitions = 0), maxTrees = 4)
    def batch() = sc.parallelize((0 until 400).map { _ =>
      val x = rng.nextGaussian(); (Array(x), 10.0 + x, 1.0)
    }, 2)
    (0 until 4).foreach(_ => st.update(batch()))
    val m = st.model.get
    assert(m.trees.length == 4)
    val eval = (0 until 200).map { _ => val x = rng.nextGaussian(); (Array(x), 10.0 + x) }
    val bias = eval.map { case (f, y) => m.margin(f)(0) - y }.sum / eval.size
    assert(math.abs(bias) < 1.0, s"post-slice prediction bias $bias should be ~0")
  }
}
