package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.CellQuantizer.{Flat, Pq, TwoLevel}
import graft.ext.{AudioDsp, Avi, Bpe, Cleaning, CorpusFilters, Curation, Dedup, Gif, ImageOps, Jpeg, MediaCodecs, Mp3, Multimodal, Par, Png, Similarity, TextOps}

/** LLM-training-data pipeline queries over `documents.parquet` /
  * `embeddings.parquet` — dedup (exact, MinHash-LSH, SimHash, n-gram
  * Jaccard), similarity search (brute cosine, LSH ANN), text analysis
  * (lang-ID, quality, token stats, fingerprint, TF-IDF), multimodal
  * plumbing. Every query has a DuckDB oracle implementing the SAME
  * deterministic computation (shared md5-derived 60-bit hash, identical
  * float→double arithmetic, explicit rounding + tiebreaks), so all of these
  * earn hash-match correctness rows.
  */
object PipelineQueries {

  import CoreQueries.table

  /** documents/embeddings via [[CoreQueries.spreadTable]]: scale-adaptive
    * scan-parallelism restore (no-op once the scan has >= cores splits),
    * hash-repartitioned on the unique id so the shuffle is deterministic
    * under retry. Every pipeline row funnels its base reads through these
    * two so the shingle/md5/regex map work parallelizes — EXCEPT the
    * p_tar_* rows, which deliberately keep the plain [[CoreQueries.table]]
    * read: their cost is the archive write/read itself (writeShards
    * repartitions by shard internally), the payload projection is a
    * trivial concat, and the spread's extra exchange measured a
    * consistent +0.5–1.5 s on p_tar_fetch in interleaved A/B. */
  private def docTable(s: SparkSession, dir: String): DataFrame =
    CoreQueries.spreadTable(s, dir, "documents", "doc_id")

  private def embTable(s: SparkSession, dir: String): DataFrame =
    CoreQueries.spreadTable(s, dir, "embeddings", "vec_id")

  /** [[Dedup.incrementalCrawlGate]] over a snapshot whose TWO near-dup
    * projections (key tier + signature tier) are built from ONE
    * materialized signature pass: the signature table is checkpointed
    * first and the key tier derives from it map-only
    * ([[Dedup.nearDupKeysFromSignatures]] — bit-identical to
    * nearDupKeys(prior)), instead of each projection running its own
    * shingle+hash pass over the snapshot. One expensive pass saved per
    * gate fixture; the projections stay materialized (they are persisted
    * tables in production). */
  private def crawlGateSharedSnap(batch: DataFrame, prior: DataFrame,
      priorCanonKeys: Option[DataFrame] = None): DataFrame = {
    // §2.6 overlap (r20): the snapshot signature pass, the BATCH
    // signature pass (the gate's other dominant linear cost, previously
    // run serially inside incrementalCrawlGate) and the optional
    // canonical-key projection are INDEPENDENT jobs — materialize them
    // together instead of one after another; the serialized per-tier
    // checkpoints were the r19 verdict's #1 residual cost (fixed per-job
    // time, the reason 8 cores beat 32 on these rows at bench scale).
    // priorCanonKeys arrives UN-materialized and is checkpointed here so
    // its job joins the overlapped group.
    val mats = Par.materializeAll("crawl gate signatures", Seq(
      Dedup.minhashSignatures(prior, "text", col("doc_id"), NumHashes),
      Dedup.minhashSignatures(batch, "text", col("doc_id"), NumHashes)) ++
      priorCanonKeys.toSeq)
    val sigs = mats(0)
    Dedup.incrementalCrawlGate(batch,
      Dedup.nearDupKeysFromSignatures(sigs, prior, numHashes = NumHashes)
        .localCheckpoint(),
      sigs, numHashes = NumHashes, bands = Bands, threshold = 0.8,
      maxBucketSize = MaxBucket,
      priorCanonKeys = priorCanonKeys.map(_ => mats(2)),
      batchSigs = Some(mats(1)))
  }

  // ---- shared SQL fragments (DuckDB dialect) -------------------------------

  /** hash60 in DuckDB: first 15 md5 hex digits as BIGINT (= TextOps.hash60). */
  private def h60(inner: String): String = TextOps.hash60Sql(inner)

  /** SF-independent golden corpus for the BPE digest row: 1000 docs of 10
    * zipf-ish draws from a 20-stem vocabulary, all values LCG-seeded from
    * the doc id — same reproducibility contract as TrainQueries'
    * goldenRows. */
  private def bpeGoldenCorpus(s: SparkSession): DataFrame = {
    import s.implicits._
    val words = Vector("the", "of", "and", "to", "in", "data", "model", "train",
      "spark", "learn", "ing", "er", "est", "token", "ize", "ization", "pre",
      "post", "process", "stream")
    (0L until 1000L).map { i =>
      val rng = new java.util.Random(i * 0x9E3779B97F4A7C15L + 7L)
      (i, Seq.fill(10) {
        val u = rng.nextDouble()
        words(math.min(words.length - 1, (-math.log(u) / math.log(1.45)).toInt))
      }.mkString(" "))
    }.toDF("doc_id", "text")
  }

  /** Deterministic multi-line web-page fixture for the cleaning rows:
    * six lines mixing kept sentences, the word-salad `text` column, PII
    * (email/phone/IPv4) and the C4 hazard cases (javascript mention,
    * curly-brace markup, lorem-ipsum boilerplate), all derived from
    * doc_id so the DuckDB oracle rebuilds the identical page in SQL. */
  private def pageFixture = concat_ws("\n",
    lit("A solid first sentence with seven words."),
    when(col("doc_id") % 13 === 0,
      lit("We will update the lorem ipsum placeholder text tomorrow."))
      .otherwise(concat(lit("Contact user"), (col("doc_id") % 100).cast("string"),
        lit("@example.com or call 555-123-4567 soon please."))),
    substring(col("text"), 1, 40),
    lit("tiny line."),
    when(col("doc_id") % 7 === 0,
      lit("Please enable javascript to continue browsing."))
      .otherwise(lit("Server logs show address 10.1.2.3 visited twice today.")),
    when(col("doc_id") % 11 === 0,
      lit("Broken markup { lurks here badly today."))
      .otherwise(lit("A closing remark rounds out the page!")))

  /** pageFixture in DuckDB dialect (chr(10) = '\n'). */
  private val pageFixtureSql =
    """concat_ws(chr(10),
      |      'A solid first sentence with seven words.',
      |      CASE WHEN doc_id % 13 = 0
      |           THEN 'We will update the lorem ipsum placeholder text tomorrow.'
      |           ELSE 'Contact user' || (doc_id % 100) ||
      |                '@example.com or call 555-123-4567 soon please.' END,
      |      substr(text, 1, 40),
      |      'tiny line.',
      |      CASE WHEN doc_id % 7 = 0
      |           THEN 'Please enable javascript to continue browsing.'
      |           ELSE 'Server logs show address 10.1.2.3 visited twice today.' END,
      |      CASE WHEN doc_id % 11 = 0
      |           THEN 'Broken markup { lurks here badly today.'
      |           ELSE 'A closing remark rounds out the page!' END)""".stripMargin

  /** Deterministic messy-URL fixture for the provenance rows: uppercase
    * scheme/host, ccTLD multi-part suffixes (co.uk / com.au — the PSL
    * registered-domain cases), optional port, tracking params, a
    * bare-path trailing slash variant (doc_id % 7) and an optional
    * fragment, all derived from doc_id + source. */
  private[graft] def urlFixture = concat(
    lit("HTTPS://WWW."), col("source"),
    // PSL fixture coverage: multi-part suffixes (co.uk/com.au), a
    // wildcard TLD (*.ck), a wildcard EXCEPTION host (!www.ck), and a
    // punycode (IDN wire-form) label — each exercised through the
    // registered-domain logic on BOTH engines
    when(col("doc_id") % 11 === 3, lit(".Things.CK"))
      .when(col("doc_id") % 11 === 4, lit(".www.ck"))
      .when(col("doc_id") % 11 === 5, lit(".XN--Bcher-KVA.DE"))
      .when(col("doc_id") % 4 === 1, lit(".Sample.CO.UK"))
      .when(col("doc_id") % 4 === 2, lit(".Portal.COM.AU"))
      .otherwise(lit(".Example.COM")),
    when(col("doc_id") % 3 === 0, lit(":8080")).otherwise(lit("")),
    lit("/Path/"), col("doc_id").cast("string"),
    when(col("doc_id") % 7 === 0, lit("/"))
      .when(col("doc_id") % 2 === 0,
        concat(lit("?utm_source=feed&id="), col("doc_id").cast("string"),
          lit("&utm_campaign=x")))
      .otherwise(concat(lit("?id="), col("doc_id").cast("string"))),
    when(col("doc_id") % 5 === 0, lit("#frag")).otherwise(lit("")))

  /** urlFixture in DuckDB dialect. */
  private val urlFixtureSql =
    """'HTTPS://WWW.' || source ||
      |    CASE WHEN doc_id % 11 = 3 THEN '.Things.CK'
      |         WHEN doc_id % 11 = 4 THEN '.www.ck'
      |         WHEN doc_id % 11 = 5 THEN '.XN--Bcher-KVA.DE'
      |         WHEN doc_id % 4 = 1 THEN '.Sample.CO.UK'
      |         WHEN doc_id % 4 = 2 THEN '.Portal.COM.AU'
      |         ELSE '.Example.COM' END ||
      |    CASE WHEN doc_id % 3 = 0 THEN ':8080' ELSE '' END ||
      |    '/Path/' || doc_id ||
      |    CASE WHEN doc_id % 7 = 0 THEN '/'
      |         WHEN doc_id % 2 = 0
      |         THEN '?utm_source=feed&id=' || doc_id || '&utm_campaign=x'
      |         ELSE '?id=' || doc_id END ||
      |    CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END""".stripMargin

  /** Distinct 3-word shingles of a token list `t` (= TextOps.shingles n=3). */
  private val shingleSql =
    "CASE WHEN len(t) >= 3 THEN list_distinct(list_transform(range(1, len(t)-1), " +
      "i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) ELSE [] END"

  private[graft] val NumHashes = 16
  private[graft] val Bands = 4 // rows per band = 4 (the s-curve operating point)
  private[graft] val MaxBucket = 1000 // LSH bucket-size skew cap (Dedup.candidatePairs)

  /** The four replica classes shared by the membrane capstones
    * (`p_crawl_sem` / `p_daily_full`), single-sourced so the two rows
    * cannot drift apart on fixture semantics: +20000 uppercased-
    * decorated (normalized tier), +40000 8-token-appended (banded),
    * +60000 byte-identical (signature-key) — all carrying a FAR
    * synthetic embedding so the semantic tier cannot mask a lexical
    * leak — and +80000 `reworded` text (an expression over the `pbase`
    * row's doc_id/text) under the prior doc's OWN embedding, visible
    * only to the semantic tier. `prior` supplies the lexical classes'
    * text (page-wrapped or raw, per capstone); `pbase` the +80000
    * class's source rows. */
  private[graft] def membraneReplicas(prior: DataFrame, pbase: DataFrame,
      reworded: org.apache.spark.sql.Column): DataFrame = {
    val far = array_repeat(lit(25.0f), 64)
    prior.where(col("doc_id") < 150).select(
        (col("doc_id") + 20000).as("doc_id"),
        concat(lit("  "), upper(col("text")), lit("  !! ")).as("text"),
        col("lang"), far.as("embedding"))
      .unionByName(prior.where(col("doc_id") >= 150 && col("doc_id") < 250)
        .select((col("doc_id") + 40000).as("doc_id"),
          concat(col("text"),
            lit(" sur1 sur2 sur3 sur4 sur5 sur6 sur7 sur8")).as("text"),
          col("lang"), far.as("embedding")))
      .unionByName(prior.where(col("doc_id") >= 250 && col("doc_id") < 350)
        .select((col("doc_id") + 60000).as("doc_id"), col("text"),
          col("lang"), far.as("embedding")))
      .unionByName(pbase.where(col("doc_id") < 150).select(
        (col("doc_id") + 80000).as("doc_id"), reworded.as("text"),
        col("lang"), col("embedding")))
  }

  /** [[membraneReplicas]]' +80000 reworded text over a pbase row. */
  private[graft] def rewordedText: org.apache.spark.sql.Column =
    concat(lit("reworded page number "), col("doc_id").cast("string"),
      lit(" entirely different words here"))

  /** MinHash slot k (= Dedup.minhashSignatures slot k: double hashing
    * h1_g + j·h2_g from the group-salted md5 — group g = k/64 salts the
    * shingle with '#g', g = 0 unsalted). */
  private def mhSql(k: Int): String = {
    val g = k / Dedup.HashesPerGroup
    val j = k % Dedup.HashesPerGroup
    val x = if (g == 0) "x" else s"concat(x, '#$g')"
    "list_min(list_transform(s, x -> " +
      s"CAST(concat('0x', substr(md5($x), 1, 15)) AS BIGINT) + " +
      s"$j * CAST(concat('0x', substr(md5($x), 17, 14)) AS BIGINT)))"
  }

  // ---- queries -------------------------------------------------------------

  // NOTE on parallelism: the sf documents parquet is one row group (5k
  // docs), so the map-side text work runs as one scan task locally. A
  // repartition to "spread" it was tried and measured NET-NEGATIVE at this
  // size (the shuffle + lost exchange reuse cost 2-10× the work being
  // spread — round-robin additionally full-row-sorts each input partition
  // via sortBeforeRepartition). A real corpus arrives in thousands of
  // splits and parallelizes at the scan with no repartition, so the
  // operators themselves stay shuffle-minimal here.

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // exact dedup by content hash, keep-min-id semantics (ext.Dedup.exactDedup)
    "p_exact_dedup" -> ((s, dir) => {
      val d = docTable(s, dir).select("doc_id", "text", "lang")
      val dup = d.where(col("doc_id") < 100)
        .withColumn("doc_id", col("doc_id") + 10000)
      val kept = Dedup.exactDedup(d.unionByName(dup), "text", "doc_id")
      kept.groupBy("lang")
        .agg(count(lit(1)).as("n_unique"), sum("doc_id").as("sum_id"))
        .orderBy("lang")
    }),

    // cross-snapshot incremental dedup (the daily-crawl shape): the new
    // batch = every doc_id % 3 == 0 doc PLUS shifted replicas of 200
    // prior docs (guaranteed cross-snapshot dups); prior = the rest.
    // Bloom pre-filter ON to exercise the full path — the result is
    // exact regardless (no false negatives)
    "p_incr_dedup" -> ((s, dir) => {
      val d = docTable(s, dir).select("doc_id", "text", "lang")
      val prior = d.where(col("doc_id") % 3 =!= 0)
      val batch = d.where(col("doc_id") % 3 === 0)
        .unionByName(prior.where(col("doc_id") < 200)
          .withColumn("doc_id", col("doc_id") + 20000))
      Dedup.incrementalDedup(batch, prior,
          bloomExpectedItems = 100000L, bloomFpp = 0.01)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_new"), sum("doc_id").as("sum_ids"))
        .orderBy("lang")
    }),

    // cross-snapshot incremental NEAR-dedup (the signature-equality tier
    // the exact gate cannot provide): prior = non-%3 docs, with doc_id <
    // 200 texts DOUBLED (T·T); the batch adds TRIPLED replicas (T·T·T,
    // ids +20000) of those docs — byte-different (md5 differs, the exact
    // tier re-admits them) but shingle-SET-identical (periodic text:
    // T·T and T·T·T share shingles(T) plus the two seam shingles), so the
    // 16-hash signature key drops every one — plus byte-identical
    // replicas (ids +40000) proving exact dups are subsumed. Gate runs
    // against the persisted nearDupKeys projection, the 100-TB shape.
    "p_incr_neardup" -> ((s, dir) => {
      val d = docTable(s, dir).select("doc_id", "text", "lang")
      val prior = d.where(col("doc_id") % 3 =!= 0)
        .withColumn("text", when(col("doc_id") < 200,
          concat(col("text"), lit(" "), col("text"))).otherwise(col("text")))
      val batch = d.where(col("doc_id") % 3 === 0)
        .unionByName(d.where(col("doc_id") % 3 =!= 0 && col("doc_id") < 200)
          .select((col("doc_id") + 20000).as("doc_id"),
            concat(col("text"), lit(" "), col("text"), lit(" "), col("text")).as("text"),
            col("lang")))
        .unionByName(prior
          .where(col("doc_id") >= 200 && col("doc_id") < 300)
          .withColumn("doc_id", col("doc_id") + 40000))
      Dedup.incrementalNearDedup(batch,
          Dedup.nearDupKeys(prior, numHashes = 16), numHashes = 16)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_new"), sum("doc_id").as("sum_ids"))
        .orderBy("lang")
    }),

    // cross-snapshot incremental BANDED near-dedup — the OR-semantics
    // J ≥ 0.8 tier (exact ⊂ signature-equality ⊂ THIS): batch docs
    // sharing an LSH band bucket with a prior doc are verified by the
    // minhash-ESTIMATED Jaccard (agreeing-slot fraction), so the gate
    // needs only the persisted prior signature table, never prior text.
    // Fixture: replicas with EIGHT appended tokens (+20000) — enough new
    // shingles to move some signature slots (byte-different AND
    // signature-different, so the exact and signature-equality tiers
    // both re-admit them) while slot agreement mostly stays ≥ 0.8 —
    // plus byte-identical replicas (+40000, J = 1) proving the lower
    // tiers are subsumed
    "p_incr_neardup_banded" -> ((s, dir) => {
      val d = docTable(s, dir).select("doc_id", "text", "lang")
      val prior = d.where(col("doc_id") % 3 =!= 0)
      val batch = d.where(col("doc_id") % 3 === 0)
        .unionByName(prior.where(col("doc_id") < 200)
          .select((col("doc_id") + 20000).as("doc_id"),
            concat(col("text"),
              lit(" sur1 sur2 sur3 sur4 sur5 sur6 sur7 sur8")).as("text"),
            col("lang")))
        .unionByName(prior.where(col("doc_id") >= 200 && col("doc_id") < 300)
          .withColumn("doc_id", col("doc_id") + 40000))
      Dedup.incrementalBandedNearDedup(batch,
          // the snapshot projection is a PERSISTED table in production
          // (the p_incr_crawl convention) — materialize so the row
          // measures the gate, not a per-consumer snapshot rebuild
          Dedup.minhashSignatures(prior, "text", col("doc_id"), NumHashes)
            .localCheckpoint(),
          numHashes = NumHashes, bands = Bands, threshold = 0.8,
          maxBucketSize = MaxBucket)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_new"), sum("doc_id").as("sum_ids"))
        .orderBy("lang")
    }),

    // the banded tier's RE-BAND lifecycle (the rekeySemanticSnapshot
    // move on the lexical membrane): the tier's persisted artifact is
    // the SIGNATURE table, so retuning the s-curve is a map-only
    // band-key recompute off stored slots — no corpus re-read, no
    // shingle pass (Dedup.rebandSignatures; parity spec-pinned). The
    // fixture: an 8-token-appended replica class (+20000, J ≈ 0.85)
    // against ONE checkpointed signature snapshot read at two
    // operating points — stale bands=1 (r=16: per-band match J^16 —
    // effectively the signature-equality curve, the class mostly
    // PASSES) and re-banded bands=8 (r=2: J² per band over 8 bands —
    // the class blocks). Same verification threshold both paths: the
    // recall move is pure banding
    "p_neardup_reband" -> ((s, dir) => {
      val d = docTable(s, dir).select("doc_id", "text")
      val prior = d.where(col("doc_id") % 3 =!= 0)
      val sigs = Dedup.minhashSignatures(prior, "text", col("doc_id"),
        NumHashes).localCheckpoint()
      val batch = d.where(col("doc_id") % 3 === 0)
        .unionByName(prior.where(col("doc_id") < 200)
          .select((col("doc_id") + 20000).as("doc_id"),
            concat(col("text"),
              lit(" sur1 sur2 sur3 sur4 sur5 sur6 sur7 sur8")).as("text")))
      def classes(kept: DataFrame, path: String) =
        kept.groupBy(floor(col("doc_id") / 20000).cast("long").as("class"))
          .agg(count(lit(1)).as("n_kept"), sum("doc_id").as("sum_ids"))
          .select(lit(path).as("path"), col("class"), col("n_kept"),
            col("sum_ids"))
      classes(Dedup.incrementalBandedNearDedup(batch, sigs,
          numHashes = NumHashes, bands = 1, threshold = 0.8,
          maxBucketSize = MaxBucket), "stale")
        .unionByName(classes(Dedup.incrementalBandedNearDedup(batch, sigs,
          numHashes = NumHashes, bands = 8, threshold = 0.8,
          maxBucketSize = MaxBucket), "rebanded"))
        .orderBy("path", "class")
    }),

    // the DAILY-CRAWL composition end-to-end: the signature-equality
    // tier FIRST (within-batch dedup + key gate — also covers
    // shingle-less docs via the md5 fallback), then the banded
    // J-threshold tier over the same snapshot's signature table.
    // The fixture carries all three replica classes: byte-identical
    // (+40000, caught by the key gate), shingle-set-identical T·T·T
    // (+20000, caught by the key gate only — bytes differ), and
    // 8-token-appended (+60000, caught by the BANDED tier only — bytes
    // and signature both differ)
    "p_incr_crawl" -> ((s, dir) => {
      val d = docTable(s, dir).select("doc_id", "text", "lang")
      val prior = d.where(col("doc_id") % 3 =!= 0)
        .withColumn("text", when(col("doc_id") < 200,
          concat(col("text"), lit(" "), col("text"))).otherwise(col("text")))
      val batch = d.where(col("doc_id") % 3 === 0)
        .unionByName(d.where(col("doc_id") % 3 =!= 0 && col("doc_id") < 200)
          .select((col("doc_id") + 20000).as("doc_id"),
            concat(col("text"), lit(" "), col("text"), lit(" "), col("text")).as("text"),
            col("lang")))
        .unionByName(prior
          .where(col("doc_id") >= 200 && col("doc_id") < 300)
          .withColumn("doc_id", col("doc_id") + 40000))
        .unionByName(prior
          .where(col("doc_id") >= 300 && col("doc_id") < 400)
          .select((col("doc_id") + 60000).as("doc_id"),
            concat(col("text"),
              lit(" sur1 sur2 sur3 sur4 sur5 sur6 sur7 sur8")).as("text"),
            col("lang")))
      // the FUSED gate: one batch signature pass shared by both tiers —
      // row-identical to incrementalNearDedup then
      // incrementalBandedNearDedup (the oracle states the sequential
      // form; CurationSpec pins the equivalence, the 20x probe the win).
      // The two snapshot projections are PERSISTED tables in production
      // (built once per snapshot) — materialize them so the row measures
      // the gate, not a per-query rebuild of the snapshot artifacts
      crawlGateSharedSnap(batch, prior)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_new"), sum("doc_id").as("sum_ids"))
        .orderBy("lang")
    }),

    // the snapshot LOOP closed end-to-end (exact tier): day-1 batch gated
    // against the day-0 key snapshot, the ACCEPTED docs' keys advanced
    // into the snapshot (per-doc projection, so advance ≡ union — the
    // persisted form is a bucketed APPEND costing O(day), pinned in
    // BucketedSnapshotSpec), then day-2 gated against the advanced
    // snapshot. Day-2 carries replicas of day-1-ACCEPTED docs (+40000 —
    // rejected only if the advance worked) and of day-0 docs (+60000 —
    // proving the original keys survive the advance)
    "p_snapshot_loop" -> ((s, dir) => {
      val d = docTable(s, dir).select("doc_id", "text", "lang")
      val prior = d.where(col("doc_id") % 3 === 1)
      val day1 = d.where(col("doc_id") % 3 === 2)
        .unionByName(prior.where(col("doc_id") < 150)
          .withColumn("doc_id", col("doc_id") + 20000))
      val keys0 = Dedup.exactKeys(prior).localCheckpoint()
      // kept1 feeds both the advance and the final union — materialize
      // once so the day-1 gate's window + anti-join never re-execute
      val kept1 = Dedup.incrementalDedupKeys(day1, keys0).localCheckpoint()
      val keys1 = keys0.unionByName(Dedup.exactKeys(kept1))
      val day2 = d.where(col("doc_id") % 3 === 0)
        .unionByName(d.where(col("doc_id") % 3 === 2 && col("doc_id") < 150)
          .withColumn("doc_id", col("doc_id") + 40000))
        .unionByName(prior.where(col("doc_id") >= 150 && col("doc_id") < 250)
          .withColumn("doc_id", col("doc_id") + 60000))
      val kept2 = Dedup.incrementalDedupKeys(day2, keys1)
      kept1.select(lit(1).as("day"), col("lang"), col("doc_id"))
        .unionByName(kept2.select(lit(2).as("day"), col("lang"), col("doc_id")))
        .groupBy("day", "lang")
        .agg(count(lit(1)).as("n_new"), sum("doc_id").as("sum_ids"))
        .orderBy("day", "lang")
    }),

    // the snapshot loop on the SIGNATURE tier: day-1 accepts %3==2 docs
    // (<150 with text DOUBLED, T·T), the accepted docs' nearDupKeys are
    // advanced into the snapshot, and day-2 carries TRIPLED (T·T·T,
    // +40000) replicas — byte-different from anything ever stored, but
    // shingle-SET-identical to the day-1 T·T texts, so ONLY the advanced
    // signature snapshot can reject them (an exact-key loop would
    // re-admit every one). +60000 byte-identical prior replicas prove
    // day-0 keys survive the advance. Advance ≡ union because the key is
    // a per-document pure function of text
    "p_neardup_loop" -> ((s, dir) => {
      val d = docTable(s, dir).select("doc_id", "text", "lang")
      val prior = d.where(col("doc_id") % 3 === 1)
      val day1 = d.where(col("doc_id") % 3 === 2)
        .withColumn("text", when(col("doc_id") < 150,
          concat(col("text"), lit(" "), col("text"))).otherwise(col("text")))
        .unionByName(prior.where(col("doc_id") < 150)
          .withColumn("doc_id", col("doc_id") + 20000))
      // keys0 is a persisted table in production — materialize so both
      // days share it rather than re-running the snapshot signature pass
      val keys0 = Dedup.nearDupKeys(prior, numHashes = NumHashes)
        .localCheckpoint()
      // materialize: consumed by the advance (a fresh signature pass)
      // and the final union — without this the day-1 gate re-executes
      val kept1 = Dedup.incrementalNearDedup(day1, keys0,
        numHashes = NumHashes).localCheckpoint()
      val keys1 = keys0.unionByName(Dedup.nearDupKeys(kept1, numHashes = NumHashes))
      val day2 = d.where(col("doc_id") % 3 === 0)
        .unionByName(d.where(col("doc_id") % 3 === 2 && col("doc_id") < 150)
          .select((col("doc_id") + 40000).as("doc_id"),
            concat(col("text"), lit(" "), col("text"), lit(" "), col("text")).as("text"),
            col("lang")))
        .unionByName(prior.where(col("doc_id") >= 150 && col("doc_id") < 250)
          .withColumn("doc_id", col("doc_id") + 60000))
      val kept2 = Dedup.incrementalNearDedup(day2, keys1, numHashes = NumHashes)
      kept1.select(lit(1).as("day"), col("lang"), col("doc_id"))
        .unionByName(kept2.select(lit(2).as("day"), col("lang"), col("doc_id")))
        .groupBy("day", "lang")
        .agg(count(lit(1)).as("n_new"), sum("doc_id").as("sum_ids"))
        .orderBy("day", "lang")
    }),

    // the CAPSTONE loop: TWO days of the fused two-tier crawl gate with
    // BOTH snapshot projections advanced between days (keys1 = day-0
    // keys ∪ day-1-accepted keys; sigs1 likewise — per-doc pure
    // functions, so advance ≡ union; the persisted form is the bucketed
    // append). Day-2 replica classes exercise every tier against the
    // ADVANCED snapshot: +40000 byte-identical and +50000 T·T·T
    // (shingle-set-identical) replicas of day-1-accepted T·T docs hit
    // the advanced KEY tier, +70000 8-token-appended replicas of day-1
    // accepted docs hit the advanced BANDED tier, +60000 byte-identical
    // day-0 replicas prove the original snapshot survives the advance
    "p_crawl_loop" -> ((s, dir) => {
      val d = docTable(s, dir).select("doc_id", "text", "lang")
      val prior = d.where(col("doc_id") % 3 === 1)
      val day1 = d.where(col("doc_id") % 3 === 2)
        .withColumn("text", when(col("doc_id") < 150,
          concat(col("text"), lit(" "), col("text"))).otherwise(col("text")))
        .unionByName(prior.where(col("doc_id") < 150)
          .withColumn("doc_id", col("doc_id") + 20000))
      val day2 = d.where(col("doc_id") % 3 === 0)
        .unionByName(d.where(col("doc_id") % 3 === 2 && col("doc_id") < 150)
          .select((col("doc_id") + 40000).as("doc_id"),
            concat(col("text"), lit(" "), col("text")).as("text"), col("lang")))
        .unionByName(d.where(col("doc_id") % 3 === 2 && col("doc_id") < 150)
          .select((col("doc_id") + 50000).as("doc_id"),
            concat(col("text"), lit(" "), col("text"), lit(" "), col("text")).as("text"),
            col("lang")))
        .unionByName(prior.where(col("doc_id") >= 150 && col("doc_id") < 250)
          .withColumn("doc_id", col("doc_id") + 60000))
        .unionByName(d.where(col("doc_id") % 3 === 2
            && col("doc_id") >= 150 && col("doc_id") < 250)
          .select((col("doc_id") + 70000).as("doc_id"),
            concat(col("text"),
              lit(" sur1 sur2 sur3 sur4 sur5 sur6 sur7 sur8")).as("text"),
            col("lang")))
      // the day-0 projections are PERSISTED tables in production —
      // materialize them once here so day 1 and day 2 share them instead
      // of re-running the snapshot signature pass inside both plans.
      // §2.6 overlap (r20): the snapshot pass and BOTH day-batch passes
      // are independent of each other (each is a pure function of its
      // own input frame) — run the three jobs together instead of
      // serially; the driver's day-2 gate was previously idle-waiting on
      // jobs it never depended on
      val Seq(sigs0, bsig1, bsig2) = Par.materializeAll("p_crawl_loop snapshot and day signatures", Seq(
        Dedup.minhashSignatures(prior, "text", col("doc_id"), NumHashes),
        Dedup.minhashSignatures(day1, "text", col("doc_id"), NumHashes),
        Dedup.minhashSignatures(day2, "text", col("doc_id"), NumHashes)))
      val keys0 = Dedup.nearDupKeysFromSignatures(sigs0, prior,
          numHashes = NumHashes)
        .localCheckpoint() // the key tier derives from the sigs map-only
      // materialize the day-1 acceptances ONCE: kept1 is consumed by the
      // key advance, the signature advance (sigs1 — itself read twice
      // inside the banded tier), and the final union; without this the
      // whole day-1 gate re-executes in each of those subtrees
      val kept1 = Dedup.incrementalCrawlGate(day1, keys0, sigs0,
        numHashes = NumHashes, bands = Bands, threshold = 0.8,
        maxBucketSize = MaxBucket, batchSigs = Some(bsig1)).localCheckpoint()
      val keptSigs1 = Dedup.minhashSignatures(kept1, "text", col("doc_id"),
        NumHashes).localCheckpoint() // one pass over the acceptances, too
      val keys1 = keys0.unionByName(
        Dedup.nearDupKeysFromSignatures(keptSigs1, kept1, numHashes = NumHashes))
      val sigs1 = sigs0.unionByName(keptSigs1)
      val kept2 = Dedup.incrementalCrawlGate(day2, keys1, sigs1,
        numHashes = NumHashes, bands = Bands, threshold = 0.8,
        maxBucketSize = MaxBucket, batchSigs = Some(bsig2))
      kept1.select(lit(1).as("day"), col("lang"), col("doc_id"))
        .unionByName(kept2.select(lit(2).as("day"), col("lang"), col("doc_id")))
        .groupBy("day", "lang")
        .agg(count(lit(1)).as("n_new"), sum("doc_id").as("sum_ids"))
        .orderBy("day", "lang")
    }),

    // snapshot RETENTION (TTL) on the loop: keys carry the generation
    // they were accepted in; day-2 gates against `retainGenerations(…,
    // minGen = 1)`, so the gen-0 snapshot keys age out — +40000 replicas
    // of day-0 docs are RE-ADMITTED (the re-crawl policy working as
    // intended) while +60000 replicas of day-1 (gen-1) acceptances stay
    // blocked. The retention groupBy keys on `_key`, so against a
    // bucketed snapshot it plans exchange-free
    "p_snapshot_ttl" -> ((s, dir) => {
      val d = docTable(s, dir).select("doc_id", "text", "lang")
      val prior = d.where(col("doc_id") % 3 === 1)
      val day1 = d.where(col("doc_id") % 3 === 2)
        .unionByName(prior.where(col("doc_id") < 150)
          .withColumn("doc_id", col("doc_id") + 20000))
      val gen0 = Dedup.stampGeneration(Dedup.exactKeys(prior), 0L)
        .localCheckpoint()
      val kept1 = Dedup.incrementalDedupKeys(day1,
        Dedup.retainGenerations(gen0, minGen = 0L)).localCheckpoint()
      val gen1 = gen0.unionByName(
        Dedup.stampGeneration(Dedup.exactKeys(kept1), 1L))
      val day2 = d.where(col("doc_id") % 3 === 0)
        .unionByName(prior.where(col("doc_id") >= 150 && col("doc_id") < 250)
          .withColumn("doc_id", col("doc_id") + 40000))
        .unionByName(d.where(col("doc_id") % 3 === 2 && col("doc_id") < 150)
          .withColumn("doc_id", col("doc_id") + 60000))
      val kept2 = Dedup.incrementalDedupKeys(day2,
        Dedup.retainGenerations(gen1, minGen = 1L))
      kept1.select(lit(1).as("day"), col("lang"), col("doc_id"))
        .unionByName(kept2.select(lit(2).as("day"), col("lang"), col("doc_id")))
        .groupBy("day", "lang")
        .agg(count(lit(1)).as("n_new"), sum("doc_id").as("sum_ids"))
        .orderBy("day", "lang")
    }),

    // retention closed over ALL THREE gate tiers — the full crawl-gate
    // lifecycle under ONE re-admission policy: both snapshot artifacts
    // (the key projection AND the banded tier's signature table) carry
    // generation stamps, day-2 gates against retain(minGen = 1) on
    // both, so gen-0 content ages out of EVERY tier consistently.
    // Day-2 replica classes prove each edge: +40000 byte-identical and
    // +50000 8-token-appended replicas of AGED-OUT day-0 docs are
    // RE-ADMITTED (the key tier and the BANDED tier both forgot them —
    // without stampSignatureGeneration the +50000 class would stay
    // blocked by the eternal signature table, the r13 verdict's open
    // edge), while +60000 byte-identical and +70000 8-token-appended
    // replicas of day-1 (gen-1) acceptances stay BLOCKED by the key and
    // banded tiers respectively
    "p_crawl_ttl" -> ((s, dir) => {
      val d = docTable(s, dir).select("doc_id", "text", "lang")
      val prior = d.where(col("doc_id") % 3 === 1)
      val day1 = d.where(col("doc_id") % 3 === 2)
        .unionByName(prior.where(col("doc_id") < 150)
          .withColumn("doc_id", col("doc_id") + 20000))
      val day2 = d.where(col("doc_id") % 3 === 0)
        .unionByName(prior.where(col("doc_id") >= 150 && col("doc_id") < 250)
          .withColumn("doc_id", col("doc_id") + 40000))
        .unionByName(prior.where(col("doc_id") >= 250 && col("doc_id") < 350)
          .select((col("doc_id") + 50000).as("doc_id"),
            concat(col("text"),
              lit(" sur1 sur2 sur3 sur4 sur5 sur6 sur7 sur8")).as("text"),
            col("lang")))
        .unionByName(d.where(col("doc_id") % 3 === 2 && col("doc_id") < 150)
          .withColumn("doc_id", col("doc_id") + 60000))
        .unionByName(d.where(col("doc_id") % 3 === 2
            && col("doc_id") >= 150 && col("doc_id") < 250)
          .select((col("doc_id") + 70000).as("doc_id"),
            concat(col("text"),
              lit(" sur1 sur2 sur3 sur4 sur5 sur6 sur7 sur8")).as("text"),
            col("lang")))
      // the stamped projections are PERSISTED bucketed tables in
      // production (BucketedSnapshotSpec pins the exchange-free
      // retention plan); materialize so both days share them.
      // §2.6 overlap (r20): snapshot pass + both day-batch passes are
      // independent — three jobs together instead of serialized
      val Seq(ps0, bsig1, bsig2) = Par.materializeAll("p_crawl_ttl snapshot and day signatures", Seq(
        Dedup.minhashSignatures(prior, "text", col("doc_id"), NumHashes),
        Dedup.minhashSignatures(day1, "text", col("doc_id"), NumHashes),
        Dedup.minhashSignatures(day2, "text", col("doc_id"), NumHashes)))
      val gk0 = Dedup.stampGeneration(
        Dedup.nearDupKeysFromSignatures(ps0, prior, numHashes = NumHashes), 0L)
        .localCheckpoint()
      val gs0 = Dedup.stampSignatureGeneration(ps0, 0L, NumHashes)
      val kept1 = Dedup.incrementalCrawlGate(day1,
        Dedup.retainGenerations(gk0, minGen = 0L),
        Dedup.retainSignatureGenerations(gs0, minGen = 0L, NumHashes),
        numHashes = NumHashes, bands = Bands, threshold = 0.8,
        maxBucketSize = MaxBucket, batchSigs = Some(bsig1)).localCheckpoint()
      val ks1 = Dedup.minhashSignatures(kept1, "text", col("doc_id"), NumHashes)
        .localCheckpoint() // one pass over the acceptances for both tiers
      val gk1 = gk0.unionByName(Dedup.stampGeneration(
        Dedup.nearDupKeysFromSignatures(ks1, kept1, numHashes = NumHashes), 1L))
      val gs1 = gs0.unionByName(Dedup.stampSignatureGeneration(ks1, 1L, NumHashes))
      val kept2 = Dedup.incrementalCrawlGate(day2,
        Dedup.retainGenerations(gk1, minGen = 1L),
        Dedup.retainSignatureGenerations(gs1, minGen = 1L, NumHashes),
        numHashes = NumHashes, bands = Bands, threshold = 0.8,
        maxBucketSize = MaxBucket, batchSigs = Some(bsig2))
      kept1.select(lit(1).as("day"), col("lang"), col("doc_id"))
        .unionByName(kept2.select(lit(2).as("day"), col("lang"), col("doc_id")))
        .groupBy("day", "lang")
        .agg(count(lit(1)).as("n_new"), sum("doc_id").as("sum_ids"))
        .orderBy("day", "lang")
    }),

    // retention closed over all FOUR gate tiers — the full lifecycle
    // under ONE re-admission policy now that the normalized tier exists:
    // all three snapshot artifacts (key projection, signature table,
    // canonical-key projection) carry generation stamps; day-2 gates
    // against retain(minGen = 1) on each. Day-2 replica classes prove
    // the canonical tier's lifecycle edges specifically: +40000
    // UPPERCASED-decorated replicas of AGED-OUT day-0 docs are
    // RE-ADMITTED (without canonical retention they would stay blocked
    // by an eternal canonical table — the same eternal-artifact bug the
    // r13/r14 rounds closed for the other tiers), while +70000
    // uppercased replicas of day-1 (gen-1) acceptances stay BLOCKED by
    // the advanced canonical keys; +60000 byte-identical day-1 replicas
    // prove the key tier's gen-1 stamps alongside
    "p_crawl_norm_ttl" -> ((s, dir) => {
      val d = docTable(s, dir).select("doc_id", "text", "lang")
      val prior = d.where(col("doc_id") % 3 === 1)
      val day1 = d.where(col("doc_id") % 3 === 2)
        .unionByName(prior.where(col("doc_id") < 150)
          .withColumn("doc_id", col("doc_id") + 20000))
      val day2 = d.where(col("doc_id") % 3 === 0)
        .unionByName(prior.where(col("doc_id") >= 150 && col("doc_id") < 250)
          .select((col("doc_id") + 40000).as("doc_id"),
            concat(lit("  "), upper(col("text")), lit("  !! ")).as("text"),
            col("lang")))
        .unionByName(d.where(col("doc_id") % 3 === 2 && col("doc_id") < 150)
          .withColumn("doc_id", col("doc_id") + 60000))
        .unionByName(d.where(col("doc_id") % 3 === 2
            && col("doc_id") >= 150 && col("doc_id") < 250)
          .select((col("doc_id") + 70000).as("doc_id"),
            concat(lit("  "), upper(col("text")), lit("  !! ")).as("text"),
            col("lang")))
      // §2.6 overlap (r20): snapshot signature pass, canonical-key
      // projection and both day-batch passes are independent — four jobs
      // together instead of serialized
      val Seq(ps0, gc0, bsig1, bsig2) = Par.materializeAll("p_crawl_norm_ttl snapshot and day projections", Seq(
        Dedup.minhashSignatures(prior, "text", col("doc_id"), NumHashes),
        Dedup.stampGeneration(Dedup.canonicalKeys(prior), 0L),
        Dedup.minhashSignatures(day1, "text", col("doc_id"), NumHashes),
        Dedup.minhashSignatures(day2, "text", col("doc_id"), NumHashes)))
      val gk0 = Dedup.stampGeneration(
        Dedup.nearDupKeysFromSignatures(ps0, prior, numHashes = NumHashes), 0L)
        .localCheckpoint()
      val gs0 = Dedup.stampSignatureGeneration(ps0, 0L, NumHashes)
      val kept1 = Dedup.incrementalCrawlGate(day1,
        Dedup.retainGenerations(gk0, minGen = 0L),
        Dedup.retainSignatureGenerations(gs0, minGen = 0L, NumHashes),
        numHashes = NumHashes, bands = Bands, threshold = 0.8,
        maxBucketSize = MaxBucket,
        priorCanonKeys = Some(Dedup.retainGenerations(gc0, minGen = 0L)),
        batchSigs = Some(bsig1))
        .localCheckpoint()
      val ks1 = Dedup.minhashSignatures(kept1, "text", col("doc_id"), NumHashes)
        .localCheckpoint() // one pass over the acceptances for both tiers
      val gk1 = gk0.unionByName(Dedup.stampGeneration(
        Dedup.nearDupKeysFromSignatures(ks1, kept1, numHashes = NumHashes), 1L))
      val gs1 = gs0.unionByName(Dedup.stampSignatureGeneration(ks1, 1L, NumHashes))
      val gc1 = gc0.unionByName(Dedup.stampGeneration(
        Dedup.canonicalKeys(kept1), 1L))
      val kept2 = Dedup.incrementalCrawlGate(day2,
        Dedup.retainGenerations(gk1, minGen = 1L),
        Dedup.retainSignatureGenerations(gs1, minGen = 1L, NumHashes),
        numHashes = NumHashes, bands = Bands, threshold = 0.8,
        maxBucketSize = MaxBucket,
        priorCanonKeys = Some(Dedup.retainGenerations(gc1, minGen = 1L)),
        batchSigs = Some(bsig2))
      kept1.select(lit(1).as("day"), col("lang"), col("doc_id"))
        .unionByName(kept2.select(lit(2).as("day"), col("lang"), col("doc_id")))
        .groupBy("day", "lang")
        .agg(count(lit(1)).as("n_new"), sum("doc_id").as("sum_ids"))
        .orderBy("day", "lang")
    }),

    // the FOUR-tier daily gate: the normalized ("fuzzy exact") tier
    // joins the crawl gate between the signature-key and banded tiers.
    // Replica classes prove each tier catches exactly its own class:
    // +60000 byte-identical prior replicas (signature-key tier), +20000
    // uppercased-decorated prior replicas (normalized tier ONLY — bytes,
    // shingles and signature all differ, so no other tier can see them),
    // +40000 8-token-appended prior replicas (banded tier), +80000
    // uppercased-decorated replicas of BATCH docs (within-batch
    // normalized dedup — smallest id per canonical form survives)
    "p_crawl_norm" -> ((s, dir) => {
      val d = docTable(s, dir).select("doc_id", "text", "lang")
      val prior = d.where(col("doc_id") % 3 === 1)
      val batch = d.where(col("doc_id") % 3 === 0)
        .unionByName(prior.where(col("doc_id") < 150)
          .select((col("doc_id") + 20000).as("doc_id"),
            concat(lit("  "), upper(col("text")), lit("  !! ")).as("text"),
            col("lang")))
        .unionByName(prior.where(col("doc_id") >= 150 && col("doc_id") < 250)
          .select((col("doc_id") + 40000).as("doc_id"),
            concat(col("text"),
              lit(" sur1 sur2 sur3 sur4 sur5 sur6 sur7 sur8")).as("text"),
            col("lang")))
        .unionByName(prior.where(col("doc_id") >= 250 && col("doc_id") < 350)
          .withColumn("doc_id", col("doc_id") + 60000))
        .unionByName(d.where(col("doc_id") % 3 === 0 && col("doc_id") < 150)
          .select((col("doc_id") + 80000).as("doc_id"),
            concat(lit("  "), upper(col("text")), lit("  !! ")).as("text"),
            col("lang")))
      crawlGateSharedSnap(batch, prior,
        priorCanonKeys = Some(Dedup.canonicalKeys(prior)))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_new"), sum("doc_id").as("sum_ids"))
        .orderBy("lang")
    }),

    // WebDataset tar-shard round trip: documents → deterministic USTAR
    // archives (batched per partition) → member explode; DuckDB
    // recomputes the member sizes/hashes from the source table directly,
    // so a hash match proves the container preserved every byte (the
    // p_warc_extract discipline; TarShardsSpec adds the system-tar
    // cross-validation in both directions)
    "p_tar_shards" -> ((s, dir) => {
      import s.implicits._
      val docs = table(s, dir, "documents").select(col("doc_id"), col("text"))
      val blobs = docs.as[(Long, String)].mapPartitions { it =>
        it.grouped(64).map { grp =>
          graft.sources.TarShards.writeAll(grp.map { case (id, text) =>
            (f"$id%06d.txt",
              text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          })
        }
      }.toDF("payload")
      graft.sources.TarShards.members(blobs, col("payload"))
        .select(
          regexp_extract(col("member_name"), "^(\\d+)\\.txt$", 1)
            .cast("long").as("doc_id"),
          octet_length(col("body_text")).cast("long").as("n_bytes"),
          md5(col("body_text")).as("payload_md5"))
        .orderBy("doc_id")
    }),

    // the FILE-SCALE tar path: writeShards streams one archive per
    // shard through the Hadoop FS temp+rename commit, readShards scans
    // them back as whole-file binaries — the actual production route
    // (p_tar_shards covers the in-memory writeAll codec). DuckDB
    // recomputes the per-shard member counts, byte totals and content
    // checksums straight from the source table, so a hash match proves
    // the filesystem round trip preserved every member byte. The temp
    // shard directory is deleted after the result is materialized, so
    // reruns are clean
    "p_tar_files" -> ((s, dir) => {
      val docs = table(s, dir, "documents").select(col("doc_id"), col("text"))
        .withColumn("shard", pmod(col("doc_id"), lit(8)))
        .withColumn("name", format_string("%06d.txt", col("doc_id")))
        .withColumn("payload", col("text").cast("binary"))
      // fresh directory per run — the writeShards commit contract
      val out = java.nio.file.Files.createTempDirectory("graft_tar_files")
      graft.sources.TarShards.writeShards(docs, out.toString, "shard",
        "name", "payload")
      val res = graft.sources.TarShards.readShards(s, out.toString)
        .groupBy("shard")
        .agg(count(lit(1)).as("n_members"),
          sum(octet_length(col("body_text")).cast("long")).as("sum_bytes"),
          // 48-bit per-member content hash summed — order-independent,
          // overflow-free at these member counts
          sum(conv(substring(md5(col("body_text")), 1, 12), 16, 10)
            .cast("long")).as("sum_h"))
        .orderBy("shard")
        // materialize BEFORE deleting the files the scan reads
        .localCheckpoint()
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(out).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
      res
    }),

    // the STREAMED shard read at file scale: same store shape as
    // p_tar_files but HALF the shards written gzipped (the sniff must
    // pick the right front per file) and the readback goes through
    // readShardsStreamed — the bounded-window parser that never holds a
    // whole archive (the >2 GiB third-party path, spec-proven on a
    // 2.56 GiB shard; this row pins its byte fidelity against DuckDB's
    // independent recomputation from the source table)
    "p_tar_stream" -> ((s, dir) => {
      val docs = table(s, dir, "documents").select(col("doc_id"), col("text"))
        .withColumn("shard", pmod(col("doc_id"), lit(8)))
        .withColumn("name", format_string("%06d.txt", col("doc_id")))
        .withColumn("payload", col("text").cast("binary"))
      val out = java.nio.file.Files.createTempDirectory("graft_tar_stream")
      graft.sources.TarShards.writeShards(docs.where(col("shard") < 4),
        out.toString, "shard", "name", "payload")
      graft.sources.TarShards.writeShards(docs.where(col("shard") >= 4),
        out.toString, "shard", "name", "payload", gzip = true)
      val res = graft.sources.TarShards.readShardsStreamed(s, out.toString)
        .groupBy("shard")
        .agg(count(lit(1)).as("n_members"),
          sum(octet_length(col("body")).cast("long")).as("sum_bytes"),
          sum(conv(substring(md5(col("body")), 1, 12), 16, 10)
            .cast("long")).as("sum_h"))
        .orderBy("shard")
        .localCheckpoint() // materialize BEFORE deleting the files
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(out).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
      res
    }),

    // the WebDataset SAMPLE model at file scale: every document becomes
    // a two-part sample (<key>.json metadata + <key>.txt payload) in
    // real shard files, read back grouped per sample. DuckDB recomputes
    // the per-shard member counts and content checksums of BOTH parts
    // straight from the source table, so a match proves the multi-part
    // container preserved every byte of every modality
    "p_tar_samples" -> ((s, dir) => {
      val docs = table(s, dir, "documents").select("doc_id", "lang", "text")
        .withColumn("shard", pmod(col("doc_id"), lit(4)))
        .withColumn("key", format_string("%06d", col("doc_id")))
        .withColumn("txt", col("text").cast("binary"))
        .withColumn("json",
          concat(lit("{\"id\":"), col("doc_id").cast("string"),
            lit(",\"lang\":\""), col("lang"), lit("\"}")).cast("binary"))
      val out = java.nio.file.Files.createTempDirectory("graft_tar_samples")
      graft.sources.TarShards.writeSampleShards(docs, out.toString, "shard",
        "key", Seq("json" -> "json", "txt" -> "txt"))
      val res = graft.sources.TarShards.readSampleShards(s, out.toString)
        .select(col("shard"), explode(col("parts")).as(Seq("ext", "body")))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_members"),
          sum(conv(substring(md5(col("body")), 1, 12), 16, 10)
            .cast("long")).as("sum_h"))
        .orderBy("shard")
        .localCheckpoint()
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(out).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
      res
    }),

    // RANGED sample fetch through the .idx sidecars at file scale: write
    // two-part samples with indexes, fetch ONLY the doc_id % 7 == 0 keys
    // by positioned reads, and checksum both parts per shard — DuckDB
    // recomputes the same subset straight from the source table, so a
    // hash match proves the index offsets, the ranged reads and the
    // sample fold returned exactly the requested bytes and nothing else
    "p_tar_fetch" -> ((s, dir) => {
      val docs = table(s, dir, "documents").select("doc_id", "lang", "text")
        .withColumn("shard", pmod(col("doc_id"), lit(4)))
        .withColumn("key", format_string("%06d", col("doc_id")))
        .withColumn("txt", col("text").cast("binary"))
        .withColumn("json",
          concat(lit("{\"id\":"), col("doc_id").cast("string"),
            lit(",\"lang\":\""), col("lang"), lit("\"}")).cast("binary"))
      val out = java.nio.file.Files.createTempDirectory("graft_tar_fetch")
      graft.sources.TarShards.writeSampleShards(docs, out.toString, "shard",
        "key", Seq("json" -> "json", "txt" -> "txt"), index = true)
      val wantedKeys = docs.where(col("doc_id") % 7 === 0).select("key")
      val res = graft.sources.TarShards
        .fetchSamples(s, out.toString, wantedKeys)
        .select(col("shard"), col("key"), explode(col("parts")).as(Seq("ext", "body")))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_members"),
          sum(conv(substring(md5(col("body")), 1, 12), 16, 10)
            .cast("long")).as("sum_h"))
        .orderBy("shard")
        .localCheckpoint() // materialize BEFORE deleting the files
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(out).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
      res
    }),

    // THE DAILY RUN in one row: a crawl batch gated against the prior
    // snapshot (fused two-tier gate, byte-identical +20000 and
    // 8-token-appended +40000 replica classes blocked by their tiers),
    // survivors budgeted per language, byte-packed into ~16 KiB shards,
    // written as REAL tar shard files and read back — DuckDB recomputes
    // the gate, the budget window, the packing cumsum AND the member
    // checksums from the source table, so one hash match certifies the
    // whole composition end to end
    "p_daily_pipeline" -> ((s, dir) => {
      val d = docTable(s, dir).select("doc_id", "text", "lang")
      val prior = d.where(col("doc_id") % 3 === 1)
      val batch = d.where(col("doc_id") % 3 =!= 1)
        .unionByName(prior.where(col("doc_id") < 150)
          .withColumn("doc_id", col("doc_id") + 20000))
        .unionByName(prior.where(col("doc_id") >= 150 && col("doc_id") < 250)
          .select((col("doc_id") + 40000).as("doc_id"),
            concat(col("text"),
              lit(" sur1 sur2 sur3 sur4 sur5 sur6 sur7 sur8")).as("text"),
            col("lang")))
      val kept = crawlGateSharedSnap(batch, prior)
        .localCheckpoint() // consumed by the budget, the pack and the payload join
      val chosen = Curation.takeTokenBudget(kept, "lang",
        Map("en" -> 20000L), defaultBudget = 8000L).select("doc_id")
      val packed = Curation.packShardsBySize(
        chosen.join(kept.select(col("doc_id"),
          octet_length(col("text")).as("n_bytes")), "doc_id"),
        "doc_id", "n_bytes", targetBytes = 16384L, salt = "daily0")
      val docsOut = packed.select("doc_id", "shard")
        .join(kept.select("doc_id", "text"), "doc_id")
        .select(col("shard"),
          format_string("%06d.txt", col("doc_id")).as("name"),
          col("text").cast("binary").as("payload"))
      val out = java.nio.file.Files.createTempDirectory("graft_daily")
      graft.sources.TarShards.writeShards(docsOut, out.toString, "shard",
        "name", "payload")
      val res = graft.sources.TarShards.readShards(s, out.toString)
        .groupBy("shard")
        .agg(count(lit(1)).as("n_members"),
          sum(octet_length(col("body_text")).cast("long")).as("sum_bytes"),
          sum(conv(substring(md5(col("body_text")), 1, 12), 16, 10)
            .cast("long")).as("sum_h"))
        .orderBy("shard")
        .localCheckpoint()
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(out).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
      res
    }),

    // TWO DAYS of the daily run — advance-then-archive certified as one
    // row: day-1 gates against the prior snapshot and ships (budget →
    // byte-packed shards → real tar files → readback); BOTH snapshot
    // projections advance with the day-1 acceptances; day-2 gates
    // against the ADVANCED snapshot and ships likewise. Day-2 replica
    // classes prove the advance: +40000 byte-identical replicas of
    // day-1-ACCEPTED docs blocked only because the advance worked,
    // +60000 replicas of day-0 docs prove the original keys survived it.
    // DuckDB replays both gates, the advance unions, both budget
    // windows, both packing cumsums AND the member checksums
    "p_daily_loop" -> ((s, dir) => {
      val d = docTable(s, dir).select("doc_id", "text", "lang")
      val prior = d.where(col("doc_id") % 3 === 1)
      val day1 = d.where(col("doc_id") % 3 === 2)
        .unionByName(prior.where(col("doc_id") < 150)
          .withColumn("doc_id", col("doc_id") + 20000))
      val day2 = d.where(col("doc_id") % 3 === 0)
        .unionByName(d.where(col("doc_id") % 3 === 2 && col("doc_id") < 150)
          .withColumn("doc_id", col("doc_id") + 40000))
        .unionByName(prior.where(col("doc_id") >= 150 && col("doc_id") < 250)
          .withColumn("doc_id", col("doc_id") + 60000))
      // §2.6 overlap (r20): snapshot pass + both day-batch passes are
      // independent — three jobs together instead of serialized
      val Seq(sigs0, bsig1, bsig2) = Par.materializeAll("p_daily_loop snapshot and day signatures", Seq(
        Dedup.minhashSignatures(prior, "text", col("doc_id"), NumHashes),
        Dedup.minhashSignatures(day1, "text", col("doc_id"), NumHashes),
        Dedup.minhashSignatures(day2, "text", col("doc_id"), NumHashes)))
      val keys0 = Dedup.nearDupKeysFromSignatures(sigs0, prior,
          numHashes = NumHashes)
        .localCheckpoint() // the key tier derives from the sigs map-only
      // one day's OUTPUT stage: budget → byte-pack → tar files → readback
      def ship(kept: org.apache.spark.sql.DataFrame, day: Int,
          salt: String): org.apache.spark.sql.DataFrame = {
        val chosen = Curation.takeTokenBudget(kept, "lang",
          Map("en" -> 20000L), defaultBudget = 8000L).select("doc_id")
        val packed = Curation.packShardsBySize(
          chosen.join(kept.select(col("doc_id"),
            octet_length(col("text")).as("n_bytes")), "doc_id"),
          "doc_id", "n_bytes", targetBytes = 16384L, salt = salt)
        val docsOut = packed.select("doc_id", "shard")
          .join(kept.select("doc_id", "text"), "doc_id")
          .select(col("shard"),
            format_string("%06d.txt", col("doc_id")).as("name"),
            col("text").cast("binary").as("payload"))
        val out = java.nio.file.Files.createTempDirectory(s"graft_dloop$day")
        graft.sources.TarShards.writeShards(docsOut, out.toString, "shard",
          "name", "payload")
        val res = graft.sources.TarShards.readShards(s, out.toString)
          .groupBy("shard")
          .agg(count(lit(1)).as("n_members"),
            sum(octet_length(col("body_text")).cast("long")).as("sum_bytes"),
            sum(conv(substring(md5(col("body_text")), 1, 12), 16, 10)
              .cast("long")).as("sum_h"))
          .select(lit(day).as("day"), col("shard"), col("n_members"),
            col("sum_bytes"), col("sum_h"))
          .localCheckpoint() // materialize BEFORE deleting the files
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(out).iterator().asScala.toSeq.reverse
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
        res
      }
      // kept1 feeds the shipping chain, both advances and nothing else —
      // materialize once so the day-1 gate never re-executes
      val kept1 = Dedup.incrementalCrawlGate(day1, keys0, sigs0,
        numHashes = NumHashes, bands = Bands, threshold = 0.8,
        maxBucketSize = MaxBucket, batchSigs = Some(bsig1)).localCheckpoint()
      // §2.6: day-1's ship (budget → pack → tar → readback, its own temp
      // dir) only needs kept1 — run it overlapped with the day-2 chain
      val ship1 = Par.async(ship(kept1, 1, "dloop1"))
      val keptSigs1 = Dedup.minhashSignatures(kept1, "text", col("doc_id"),
        NumHashes).localCheckpoint() // one pass over the acceptances; the
      // banded tier's double read of sigs1 now re-scans two cached frames
      val keys1 = keys0.unionByName(
        Dedup.nearDupKeysFromSignatures(keptSigs1, kept1, numHashes = NumHashes))
      val sigs1 = sigs0.unionByName(keptSigs1)
      val kept2 = Dedup.incrementalCrawlGate(day2, keys1, sigs1,
        numHashes = NumHashes, bands = Bands, threshold = 0.8,
        maxBucketSize = MaxBucket, batchSigs = Some(bsig2)).localCheckpoint()
      Par.await(ship1, "p_daily_loop day-1 ship")
        .unionByName(ship(kept2, 2, "dloop2"))
        .orderBy("day", "shard")
    }),

    // the THREE-day daily capstone with retention INSIDE the loop — the
    // full production cadence (gate → ship → advance → retire) per day,
    // one hash row: every projection carries generation stamps, day N
    // gates against retain(minGen = N−1), so content ages out after one
    // idle day. Replica classes prove each edge: day-2 +40000 replicas
    // of day-1 acceptances BLOCKED (first advance), +60000 replicas of
    // the AGED gen-0 prior RE-ADMITTED (first retire); day-3 +70000
    // replicas of day-2 acceptances BLOCKED (second advance), +80000
    // replicas of day-1 acceptances RE-ADMITTED (their gen-1 stamps
    // aged at minGen = 2 — the retire-inside-the-loop edge a two-day
    // row cannot see), +85000 8-token-appended replicas of day-2
    // acceptances BLOCKED by the banded tier's RETAINED signatures.
    // DuckDB replays all three gates, the stamped advances, both
    // retention reads, the budget/packing windows and the member
    // checksums of all three ship stages
    "p_daily_loop3" -> ((s, dir) => {
      val d = docTable(s, dir).select("doc_id", "text", "lang")
      val prior = d.where(col("doc_id") % 3 === 1)
      val day1 = d.where(col("doc_id") % 3 === 2)
        .unionByName(prior.where(col("doc_id") < 150)
          .withColumn("doc_id", col("doc_id") + 20000))
      val day2 = d.where(col("doc_id") % 3 === 0)
        .unionByName(d.where(col("doc_id") % 3 === 2 && col("doc_id") < 150)
          .withColumn("doc_id", col("doc_id") + 40000))
        .unionByName(prior.where(col("doc_id") >= 150 && col("doc_id") < 250)
          .withColumn("doc_id", col("doc_id") + 60000))
      val day3 = d.where(col("doc_id") % 3 === 0 && col("doc_id") < 150)
        .select((col("doc_id") + 70000).as("doc_id"), col("text"), col("lang"))
        .unionByName(d.where(col("doc_id") % 3 === 2 && col("doc_id") < 150)
          .withColumn("doc_id", col("doc_id") + 80000))
        .unionByName(d.where(col("doc_id") % 3 === 0
            && col("doc_id") >= 150 && col("doc_id") < 250)
          .select((col("doc_id") + 85000).as("doc_id"),
            concat(col("text"),
              lit(" sur1 sur2 sur3 sur4 sur5 sur6 sur7 sur8")).as("text"),
            col("lang")))
      // §2.6 overlap (r20): the snapshot signature pass and all THREE
      // day-batch passes are independent (each a pure function of its
      // own input) — four jobs together instead of serialized
      val Seq(ps0, bsig1, bsig2, bsig3) = Par.materializeAll("p_daily_loop3 snapshot and day signatures", Seq(
        Dedup.minhashSignatures(prior, "text", col("doc_id"), NumHashes),
        Dedup.minhashSignatures(day1, "text", col("doc_id"), NumHashes),
        Dedup.minhashSignatures(day2, "text", col("doc_id"), NumHashes),
        Dedup.minhashSignatures(day3, "text", col("doc_id"), NumHashes)))
      val gk0 = Dedup.stampGeneration(
        Dedup.nearDupKeysFromSignatures(ps0, prior, numHashes = NumHashes), 0L)
        .localCheckpoint()
      val gs0 = Dedup.stampSignatureGeneration(ps0, 0L, NumHashes)
      def gate(day: org.apache.spark.sql.DataFrame,
          gk: org.apache.spark.sql.DataFrame,
          gs: org.apache.spark.sql.DataFrame, minGen: Long,
          bsig: org.apache.spark.sql.DataFrame) =
        Dedup.incrementalCrawlGate(day,
          Dedup.retainGenerations(gk, minGen),
          Dedup.retainSignatureGenerations(gs, minGen, NumHashes),
          numHashes = NumHashes, bands = Bands, threshold = 0.8,
          maxBucketSize = MaxBucket, batchSigs = Some(bsig)).localCheckpoint()
      // BOTH stamped tiers advance off ONE signature pass over the
      // acceptances (nearDupKeysFromSignatures derives the key tier
      // map-only) — was two independent passes per day; the two advanced
      // projections are independent of each other, so their
      // materializations overlap too (§2.6)
      def advance(gk: org.apache.spark.sql.DataFrame,
          gs: org.apache.spark.sql.DataFrame,
          kept: org.apache.spark.sql.DataFrame, gen: Long) = {
        val ks = Dedup.minhashSignatures(kept, "text", col("doc_id"), NumHashes)
          .localCheckpoint()
        val Seq(gkA, gsA) = Par.materializeAll("p_daily_loop3 advance projections", Seq(
          gk.unionByName(Dedup.stampGeneration(
            Dedup.nearDupKeysFromSignatures(ks, kept, numHashes = NumHashes),
            gen)),
          gs.unionByName(Dedup.stampSignatureGeneration(ks, gen, NumHashes))))
        (gkA, gsA)
      }
      def ship(kept: org.apache.spark.sql.DataFrame, day: Int,
          salt: String): org.apache.spark.sql.DataFrame = {
        val chosen = Curation.takeTokenBudget(kept, "lang",
          Map("en" -> 20000L), defaultBudget = 8000L).select("doc_id")
        val packed = Curation.packShardsBySize(
          chosen.join(kept.select(col("doc_id"),
            octet_length(col("text")).as("n_bytes")), "doc_id"),
          "doc_id", "n_bytes", targetBytes = 16384L, salt = salt)
        val docsOut = packed.select("doc_id", "shard")
          .join(kept.select("doc_id", "text"), "doc_id")
          .select(col("shard"),
            format_string("%06d.txt", col("doc_id")).as("name"),
            col("text").cast("binary").as("payload"))
        val out = java.nio.file.Files.createTempDirectory(s"graft_dl3_$day")
        graft.sources.TarShards.writeShards(docsOut, out.toString, "shard",
          "name", "payload")
        val res = graft.sources.TarShards.readShards(s, out.toString)
          .groupBy("shard")
          .agg(count(lit(1)).as("n_members"),
            sum(octet_length(col("body_text")).cast("long")).as("sum_bytes"),
            sum(conv(substring(md5(col("body_text")), 1, 12), 16, 10)
              .cast("long")).as("sum_h"))
          .select(lit(day).as("day"), col("shard"), col("n_members"),
            col("sum_bytes"), col("sum_h"))
          .localCheckpoint() // materialize BEFORE deleting the files
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(out).iterator().asScala.toSeq.reverse
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
        res
      }
      val kept1 = gate(day1, gk0, gs0, minGen = 0L, bsig1)
      // §2.6: each day's ship (its own temp dir, consumes only that
      // day's acceptances) runs overlapped with the NEXT day's
      // gate/advance chain instead of serialized after day 3
      val ship1 = Par.async(ship(kept1, 1, "dl3a"))
      val (gk1, gs1) = advance(gk0, gs0, kept1, 1L)
      val kept2 = gate(day2, gk1, gs1, minGen = 1L, bsig2)
      val ship2 = Par.async(ship(kept2, 2, "dl3b"))
      val (gk2, gs2) = advance(gk1, gs1, kept2, 2L)
      val kept3 = gate(day3, gk2, gs2, minGen = 2L, bsig3)
      Par.await(ship1, "p_daily_loop3 day-1 ship")
        .unionByName(Par.await(ship2, "p_daily_loop3 day-2 ship"))
        .unionByName(ship(kept3, 3, "dl3c"))
        .orderBy("day", "shard")
    }),

    // the OUTPUT pipeline end-to-end: per-language token budgets →
    // deterministic epoch shards → one tar container per shard → parse
    // back → per-shard member counts + content checksums. DuckDB
    // recomputes the budgets, the shard hash, and the checksums straight
    // from the source table, so a match proves the container stage
    // added, dropped, and mangled nothing. Shards are built in-memory
    // here (budgeted shards are small; the file-scale path is
    // TarShards.writeShards, spec-tested)
    "p_tar_pipeline" -> ((s, dir) => {
      import s.implicits._
      val docs = table(s, dir, "documents").select("doc_id", "lang", "text")
      val kept = Curation.takeTokenBudget(docs, "lang",
        Map("en" -> 20000L), defaultBudget = 8000L).select("doc_id")
      val sharded = Curation.epochShards(kept, "doc_id", 8, "tarpipe")
        .join(docs.select("doc_id", "text"), Seq("doc_id"))
      val blobs = sharded.select(col("shard"), col("doc_id"), col("text"))
        .as[(Int, Long, String)]
        .groupByKey(_._1)
        .mapGroups { (shard, it) =>
          val members = it.toSeq.sortBy(_._2).map { case (_, id, text) =>
            (f"$id%06d.txt",
              text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          }
          (shard, graft.sources.TarShards.writeAll(members))
        }.toDF("shard", "payload")
      blobs.as[(Int, Array[Byte])]
        .flatMap { case (shard, p) =>
          graft.sources.TarShards.parseAll(p).map { case (n, b) =>
            (shard, new String(b, java.nio.charset.StandardCharsets.UTF_8))
          }
        }.toDF("shard", "text2")
        .groupBy("shard")
        .agg(count(lit(1)).as("n_members"),
          // 48-bit per-member content hash summed — order-independent,
          // overflow-free at budgeted shard sizes
          sum(conv(substring(md5(col("text2")), 1, 12), 16, 10)
            .cast("long")).as("sum_h"))
        .orderBy("shard")
    }),

    // C4 blocklist page filter: pages containing any blocklisted word
    // (case-insensitive whole token) or multi-word phrase (token-boundary
    // match) are flagged for removal — map-only
    "p_word_blocklist" -> ((s, dir) =>
      Cleaning.blockedWordFilter(docTable(s, dir),
          Seq("slow", "error", "group query"), "doc_id", "text")
        .select(col("doc_id"),
          col("n_tokens").cast("long").as("n_tokens"),
          col("n_blocked").cast("long").as("n_blocked"),
          col("word_keep"))
        .orderBy("doc_id")),

    // normalized ("fuzzy exact") dedup: case-folded, punctuation- and
    // whitespace-collapsed canonical key — the reformatting replica
    // classes (+20000 uppercased-decorated, +40000 triple-spaced) that
    // byte-exact dedup CANNOT catch collapse here at map-side cost
    "p_norm_dedup" -> ((s, dir) => {
      val d = docTable(s, dir).select("doc_id", "text", "lang")
      val batch = d
        .unionByName(d.where(col("doc_id") < 150)
          .select((col("doc_id") + 20000).as("doc_id"),
            concat(lit("  "), upper(col("text")), lit("  !! ")).as("text"),
            col("lang")))
        .unionByName(d.where(col("doc_id") >= 150 && col("doc_id") < 250)
          .select((col("doc_id") + 40000).as("doc_id"),
            regexp_replace(col("text"), " ", "   ").as("text"),
            col("lang")))
      Dedup.normalizedDedup(batch, "text", "doc_id")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_unique"), sum("doc_id").as("sum_ids"))
        .orderBy("lang")
    }),

    // per-stage attrition report: docs charged to the FIRST filter
    // stage they fail (min-token floor, then a char ceiling, then an
    // en-only gate) — one scan, bounded aggregate; the oracle replays
    // the identical first-fail CASE chain
    "p_attrition" -> ((s, dir) =>
      Cleaning.attritionReport(docTable(s, dir), Seq(
        "min_tokens" -> (size(TextOps.tokens(col("text"))) >= 60),
        "max_chars" -> (col("n_chars") <= lit(900)),
        "lang_en" -> (col("lang") === "en")))
        .orderBy("stage_idx")),

    // per-stratum token-budget selection: en gets 20k tokens, every
    // other lang 8k — docs taken in doc_id order until the stratum's
    // budget fills; one global range-partitioned cumsum, text unshuffled
    "p_token_budget" -> ((s, dir) =>
      Curation.takeTokenBudget(docTable(s, dir), "lang",
          Map("en" -> 20000L), defaultBudget = 8000L)
        .orderBy("doc_id")),

    // quality-ordered token budgets: take the BEST docs per language
    // (n_chars desc, id tiebreak) until the budget fills — the
    // quality-threshold curation rule
    "p_token_budget_best" -> ((s, dir) =>
      Curation.takeTokenBudgetByScore(docTable(s, dir), "lang",
          "n_chars", Map("en" -> 20000L), defaultBudget = 8000L)
        .orderBy("doc_id")),

    // MinHash-LSH near-duplicate pairs, exact-Jaccard verified ≥ 0.8
    "p_near_dup" -> ((s, dir) =>
      Dedup.nearDupPairs(docTable(s, dir), "text", "doc_id",
          numHashes = NumHashes, bands = Bands, shingleN = 3, threshold = 0.8,
          maxBucketSize = MaxBucket)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 5).as("jaccard"))
        .orderBy("id_a", "id_b")),

    // the CORPUS-SCALE near-dup operating point: 128 hashes / 32 bands of
    // 4 (the k/band setting a production-corpus dedup runs — s-curve
    // midpoint ≈ 0.72, steep enough to separate 0.8-Jaccard dups from
    // unrelated docs at billions of documents). Same miner, same skew cap;
    // 2 salted md5s per shingle (the O(k/64) design point), 32-band
    // bucket join. Bench-graded at sf0.1 alongside the demo-scale row.
    "p_near_dup_k128" -> ((s, dir) =>
      Dedup.nearDupPairs(docTable(s, dir), "text", "doc_id",
          numHashes = 128, bands = 32, shingleN = 3, threshold = 0.8,
          maxBucketSize = MaxBucket)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 5).as("jaccard"))
        .orderBy("id_a", "id_b")),

    // exact-dedup-first composition (the standard pipeline order — see the
    // COVERAGE scale experiment: on replica-heavy corpora the raw miner is
    // output-bound on the k(k−1)/2 pairs inside every byte-identical
    // group; collapsing them first removes that term). Representative =
    // min doc_id per md5(text) group, deterministic on both engines.
    "p_near_dup_exact_first" -> ((s, dir) => {
      val reps = Dedup.exactDedup(docTable(s, dir), "text", "doc_id")
      Dedup.nearDupPairs(reps, "text", "doc_id",
          numHashes = 128, bands = 32, shingleN = 3, threshold = 0.8,
          maxBucketSize = MaxBucket)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 5).as("jaccard"))
        .orderBy("id_a", "id_b")
    }),

    // repeated n-gram mining (Lee et al. 2022 substring dedup at n-gram
    // granularity): 5-grams present in >= 3 distinct docs, with counts
    "p_repeated_ngrams" -> ((s, dir) =>
      Dedup.repeatedNgrams(docTable(s, dir), "text", "doc_id",
          n = 5, minDocs = 3)
        .orderBy("ngram")),

    // per-document hot-n-gram exposure (the cut/down-weight signal)
    "p_repeat_flag" -> ((s, dir) =>
      Dedup.flagRepeatedNgramDocs(docTable(s, dir), "text", "doc_id",
          n = 5, minDocs = 3)
        .select(col("id").as("doc_id"), col("n_hot_ngrams"))
        .orderBy("doc_id")),

    // repeated-SPAN removal (Lee et al. 2022 substring dedup, n-gram
    // granularity): tokens covered by any corpus-hot 3-gram occurrence
    // are cut from every doc; md5 pins the rebuilt text
    "p_span_dedup" -> ((s, dir) =>
      Dedup.removeRepeatedSpans(docTable(s, dir), "text", "doc_id",
          n = 3, minDocs = 3)
        .select(col("doc_id"),
          col("n_tokens").cast("long").as("n_tokens"),
          col("n_removed").cast("long").as("n_removed"),
          md5(col("clean_text")).as("clean_md5"))
        .orderBy("doc_id")),

    // keep-FIRST span removal (Lee et al.'s published keep-one rule made
    // deterministic: the (id, start)-minimum occurrence of each hot
    // n-gram survives, every other occurrence is cut)
    "p_span_dedup_keep_first" -> ((s, dir) =>
      Dedup.removeRepeatedSpansKeepFirst(docTable(s, dir), "text",
          "doc_id", n = 3, minDocs = 3)
        .select(col("doc_id"),
          col("n_tokens").cast("long").as("n_tokens"),
          col("n_removed").cast("long").as("n_removed"),
          md5(col("clean_text")).as("clean_md5"))
        .orderBy("doc_id")),

    // deterministic stratified sampling (data mixing): md5-hash coin per
    // doc, per-language rates — reproducible across reruns/retries, pure
    // map-side predicate (no shuffle, no rand())
    "p_stratified_sample" -> ((s, dir) =>
      Curation.stratifiedSample(docTable(s, dir), "lang",
          Map("en" -> 0.5), defaultRate = 0.2, keyCol = "doc_id")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_kept"), sum("doc_id").as("sum_id"))
        .orderBy("lang")),

    // sequence packing: concat-then-chunk into 256-token packs over a
    // distributed range-partitioned cumsum (no single-task window)
    "p_seq_pack" -> ((s, dir) =>
      Curation.packSequences(docTable(s, dir), "text", "doc_id", 256)
        .groupBy("pack_id")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("total_tokens"))
        .orderBy("pack_id")),

    // deterministic epoch shuffle/sharding: md5 permutation into 8 shards
    // with dense 0-based within-shard positions — reproducible across
    // reruns/retries/engines, unlike orderBy(rand())
    "p_epoch_shards" -> ((s, dir) =>
      Curation.epochShards(docTable(s, dir), "doc_id", 8, "epoch0")
        .orderBy("doc_id")),

    // byte-packed shards: deterministic permutation + first-fit linear
    // packing along one byte cumsum — shard sizes land within one doc
    // of the 16 KiB target; the oracle replays the identical window sum
    "p_pack_shards" -> ((s, dir) =>
      Curation.packShardsBySize(
          docTable(s, dir)
            .withColumn("n_bytes", octet_length(col("text"))),
          "doc_id", "n_bytes", targetBytes = 16384L, salt = "pack0")
        .orderBy("doc_id")),

    // duplicate-cluster resolution: connected components over the mined
    // pairs; cluster_id = min doc id of the component (the canonical doc
    // a dedup pipeline keeps)
    "p_dup_clusters" -> ((s, dir) =>
      Dedup.connectedComponents(
          Dedup.nearDupPairs(docTable(s, dir), "text", "doc_id",
            numHashes = NumHashes, bands = Bands, shingleN = 3, threshold = 0.8,
            maxBucketSize = MaxBucket),
          "id_a", "id_b")
        .select(col("id").as("doc_id"), col("label").as("cluster_id"))
        .orderBy("doc_id")),

    // duplicate-cluster resolution with the QUALITY keep-policy: same
    // mined clusters as p_dup_clusters, but the kept member is the
    // highest-token-count doc (tiebreak smallest id) — the production
    // choice ("keep the longest copy"), deterministic and oracle-checked
    "p_cluster_keep_best" -> ((s, dir) => {
      val docs = docTable(s, dir)
      Dedup.keepBestPerCluster(docs,
          Dedup.nearDupPairs(docs, "text", "doc_id",
            numHashes = NumHashes, bands = Bands, shingleN = 3, threshold = 0.8,
            maxBucketSize = MaxBucket),
          size(TextOps.tokens(col("text"))).cast("long"))
        .orderBy("doc_id")
    }),

    // WARC ingest round-trip: documents are wrapped as HTML pages,
    // serialized into WARC/1.0 response records per partition (plain and
    // gzip-member-per-record layouts alternate by group — the parse
    // output is identical, so the oracle covers both), parsed back with
    // the record/HTTP-header walker, and pinned by md5 + byte length
    // against the oracle's direct recomputation from the table
    "p_warc_extract" -> ((s, dir) => {
      import s.implicits._
      val docs = docTable(s, dir)
        .select(col("doc_id"),
          concat(lit("<html><head><title>doc</title></head><body><p>"),
            col("text"), lit("</p></body></html>")).as("html"))
      val blobs = docs.as[(Long, String)].mapPartitions { it =>
        it.grouped(64).map { grp =>
          val recs = grp.map { case (id, html) =>
            (s"https://corpus.example/doc/$id", "2024-01-01T00:00:00Z",
              "text/html", html.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          }
          if (grp.head._1 % 2 == 0) graft.sources.Warc.gzipPerRecord(recs)
          else graft.sources.Warc.writeAll(recs)
        }
      }.toDF("payload")
      graft.sources.Warc.records(blobs, col("payload"))
        .select(
          regexp_extract(col("warc_url"), "/doc/(\\d+)$", 1).cast("long").as("doc_id"),
          col("http_status").cast("long").as("http_status"),
          col("content_type"),
          octet_length(col("body_text")).cast("long").as("n_bytes"),
          md5(col("body_text")).as("page_md5"))
        .orderBy("doc_id")
    }),

    // 16-bit SimHash per document
    "p_simhash" -> ((s, dir) => docTable(s, dir)
      .where(col("doc_id") < 100)
      .select(col("doc_id"), TextOps.simhash16(TextOps.tokens(col("text"))).as("simhash"))
      .orderBy("doc_id")),

    // character-4-gram Jaccard of consecutive doc pairs
    "p_char_ngram_jaccard" -> ((s, dir) => {
      val d = docTable(s, dir)
        .select(col("doc_id"), Dedup.charNgrams(col("text"), 4).as("g"))
      val a = d.where(col("doc_id") < 100)
        .select(col("doc_id").as("id_a"), col("g").as("ga"))
      val b = d.select((col("doc_id") - 1).as("id_a"), col("doc_id").as("id_b"), col("g").as("gb"))
      a.join(b, "id_a")
        .select(col("id_a"), col("id_b"),
          round(Dedup.jaccard(col("ga"), col("gb")), 5).as("jaccard"))
        .orderBy("id_a")
    }),

    // brute-force cosine top-3 neighbors for 5 query vectors
    "p_ann_brute" -> ((s, dir) => {
      val e = embTable(s, dir)
      val q = e.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      Similarity.bruteTopK(e, q, k = 3).orderBy("qid", "rk")
    }),

    // LSH-bucketed ANN: top-1 co-bucketed neighbor per query (16 buckets)
    "p_ann_lsh" -> ((s, dir) => {
      val e = embTable(s, dir)
      val q = e.where(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      Similarity.lshTopK(e, q, planes, k = 1).orderBy("qid", "rk")
    }),

    // the CORPUS-SCALE ANN operating point: 16 hyperplanes (65536
    // buckets — the selectivity a billion-vector index needs) with
    // Hamming-1 multi-probe for recall; only the query side fans out
    // (×17), the corpus stays one row per vector
    "p_ann_lsh_p16" -> ((s, dir) => {
      val e = embTable(s, dir)
      val q = e.where(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      Similarity.lshTopKMultiProbe(e, q, planes16, k = 1).orderBy("qid", "rk")
    }),

    // IVF-cell ANN: corpus in nearest cell, queries probe 2 cells (8-cell
    // fixed coarse quantizer — data-trained quantizers via
    // Similarity.kmeansCentroids, exercised in ScalaTest)
    "p_ann_ivf" -> ((s, dir) => {
      val e = embTable(s, dir)
      val q = e.where(col("vec_id") < 15)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      Similarity.ivfTopK(e, q, ivfCentroids, nprobe = 2, k = 2).orderBy("qid", "rk")
    }),

    // ANN retrieval OVER THE DEDUP SNAPSHOT: the semantic tier's
    // persisted (id, cell, emb) artifact IS an IVF inverted file, so
    // the corpus the daily gate maintains is queryable with no extra
    // index build. Probing ALL cells makes IVF exactly brute force —
    // which is what the oracle states (plain cross-join top-k, no cell
    // replay): the row certifies the snapshot-as-index path against
    // ground truth, not against its own plumbing
    "p_ann_snapshot" -> ((s, dir) => {
      val e = embTable(s, dir).select("vec_id", "embedding")
      val snap = Similarity.semanticKeys(
        e.where(col("vec_id") % 3 === 1), Flat(ivfCentroids))
      val q = e.where(col("vec_id") % 3 === 0 && col("vec_id") < 15)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      Similarity.ivfTopKFromSnapshot(snap, q, Flat(ivfCentroids),
        nprobe = ivfCentroids.length, k = 5).orderBy("qid", "rk")
    }),

    // snapshot-as-index for the COMPOSED artifact (r19): the
    // two-level (id, cell, emb) snapshot — exactly what a 10¹⁰-doc
    // corpus persists once k ≈ √n outgrows flat driver Lloyd — read
    // back as a retrieval index. Queries fan ×(nprobe × fineProbe)
    // composed cells (per probed coarse branch, the fineProbe nearest
    // residual fine cells — a corpus vector sharing the coarse branch
    // can sit in a neighboring fine cell); probing ALL (k1 × k2)
    // cells makes the read exactly brute force, which is what the
    // oracle states (plain cross-join top-k, no cell replay) —
    // production points tune (nprobe, fineProbe) via annRecallProbe
    "p_ann_snapshot2" -> ((s, dir) => {
      val all = rekeyGolden(s)
      val rekey2 = TwoLevel(rekeyCoarse, rekeyFine)
      val snap = Similarity.semanticKeys(
        all.where(col("vec_id") % 3 === 1), rekey2)
      val q = all.where(col("vec_id") % 3 === 0 && col("vec_id") < 60)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      Similarity.ivfTopKFromSnapshot(snap, q, rekey2,
        nprobe = rekeyCoarse.length, k = 5, fineProbe = rekeyFine.length)
        .orderBy("qid", "rk")
    }),

    // snapshot-as-index for the PQ-COMPRESSED artifact (r19): the
    // PQ (id, cell, codes) snapshot — NO raw embeddings —
    // read with the IVF-PQ ADC kernel against the stored codes.
    // Probing ALL flat cells makes the read exactly the brute ADC
    // scan of the snapshot, which the oracle replays: codes recomputed
    // from the prior embeddings (the snapshot build), ADC distance
    // via the per-sub CASE chains, ascending rounded distance with id
    // tiebreak (nprobe tuning via annRecallProbe measures the
    // bucketing loss alone — code-budget loss is fixed at encode)
    "p_ann_snapshot_pq" -> ((s, dir) => {
      val all = rekeyGolden(s)
      val pq = Pq(rekeyNewCents, pqBooks)
      val snap = Similarity.semanticKeys(
        all.where(col("vec_id") % 3 === 1), pq)
      val q = all.where(col("vec_id") % 3 === 0 && col("vec_id") < 60)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      Similarity.ivfTopKFromSnapshot(snap, q, pq,
        nprobe = rekeyNewCents.length, k = 3).orderBy("qid", "rk")
    }),

    // Product quantization, brute ADC: the corpus is ENCODED once to 4
    // sub-codes per vector (the compressed table that fits in memory at
    // 100 TB — 64 floats → a few bytes) and queries scan codes with the
    // asymmetric-distance kernel. Fixed deterministic codebooks so the
    // oracle recomputes codes + ADC from literals (data-trained codebooks
    // via Similarity.pqTrainCodebooks, exercised in ScalaTest)
    "p_ann_pq" -> ((s, dir) => {
      val e = embTable(s, dir)
      val q = e.where(col("vec_id") < 15)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      Similarity.pqTopK(e, q, pqBooks, k = 2).orderBy("qid", "rk")
    }),

    // IVF-PQ: the faiss-IndexIVFPQ operating point — corpus stored as
    // (cell, codes) only, queries probe 2 cells, ADC scoring within cells
    "p_ann_ivfpq" -> ((s, dir) => {
      val e = embTable(s, dir)
      val q = e.where(col("vec_id") < 15)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      Similarity.pqIvfTopK(e, q, ivfCentroids, pqBooks, nprobe = 2, k = 2)
        .orderBy("qid", "rk")
    }),

    // embedding-cosine near-dup mining: LSH buckets → in-bucket pairs →
    // cosine threshold (the embedding flavor of dedup)
    "p_embed_dedup" -> ((s, dir) =>
      Similarity.embedDupPairs(embTable(s, dir), planes, threshold = 0.4)
        .orderBy("id_a", "id_b")),

    // SemDeDup: k-means-cell semantic dedup — every doc flagged iff a
    // smaller-id doc in its cell is within cosine threshold (min-id
    // canonical); same 8-centroid coarse quantizer as p_ann_ivf
    "p_semdedup" -> ((s, dir) =>
      Similarity.semDedup(embTable(s, dir), ivfCentroids, threshold = 0.35)
        .orderBy("vec_id")),

    // SemDeDup → keepBestPerCluster composition, the production semantic
    // dedup path end-to-end: within-cell cosine pairs mined as edges,
    // transitive clusters via connected components, and a QUALITY
    // keep-policy (highest `label` standing in for a quality score,
    // tiebreak smallest vec_id) instead of semDedup's min-id greedy
    "p_semdedup_keep_best" -> ((s, dir) => {
      val emb = embTable(s, dir)
      Dedup.keepBestPerCluster(
          emb.select(col("vec_id"), col("label")),
          Similarity.semDupPairs(emb, ivfCentroids, threshold = 0.35)
            .select(col("id_a"), col("id_b")),
          col("label").cast("long"), idCol = "vec_id")
        .orderBy("vec_id")
    }),

    // the INCREMENTAL semantic tier — the crawl gate's fifth membrane,
    // closing the paraphrase-replica class no lexical tier can see:
    // batch docs probe their 2 nearest IVF cells and are dropped iff a
    // PRIOR-snapshot doc in a probed cell reaches cosine 0.35. The
    // +20000 rows re-feed prior embeddings under new ids (the
    // paraphrase stand-in: cos = 1.0) and must all be blocked; novel
    // batch docs survive unless organically near a prior doc. Both
    // sides capped per cell (the banded-tier convention; the cap never
    // binds at these scales — the binding case is spec-pinned)
    "p_incr_semdedup" -> ((s, dir) => {
      val e = embTable(s, dir).select("vec_id", "embedding")
      val prior = e.where(col("vec_id") % 3 === 1)
      val batch = e.where(col("vec_id") % 3 === 0)
        .unionByName(prior.where(col("vec_id") < 100)
          .withColumn("vec_id", col("vec_id") + 20000))
      Similarity.incrementalSemDedup(batch,
          Similarity.semanticKeys(prior, Flat(ivfCentroids)).localCheckpoint(),
          Flat(ivfCentroids), threshold = 0.35, nprobe = 2, maxCellSize = 1000)
        .select(col("vec_id"),
          Similarity.ivfCells(col("embedding"), ivfCentroids, 1)(0).as("cell"))
        .orderBy("vec_id")
    }),

    // the FIVE-tier daily gate — the full membrane over a corpus that
    // carries BOTH text and embeddings (documents ⋈ embeddings on id):
    // the four lexical tiers (incrementalCrawlGate) compose with the
    // semantic tier (incrementalSemDedup on the survivors — the
    // documented tier order: lexical first, they are cheaper). One
    // replica class per tier proves each membrane catches exactly its
    // own: +60000 byte-identical (signature-key tier), +20000
    // uppercased-decorated (normalized tier), +40000 8-token-appended
    // (banded tier) — all three carry a FAR synthetic embedding so the
    // semantic tier cannot mask a lexical leak — and +80000
    // fully-REWORDED pages carrying a PRIOR doc's embedding (different
    // bytes, canonical form AND shingles: only the semantic tier can
    // see them). Kept classes aggregate by id range — the semantic
    // class (+80000) is blocked COMPLETELY at cos ≥ 0.999, while a
    // handful of SHORT docs in the banded class legitimately pass
    // (their 8-token append drops estimated J below 0.8 — the tier's
    // documented threshold behavior, replayed identically by DuckDB)
    "p_crawl_sem" -> ((s, dir) => {
      val d = docTable(s, dir).select("doc_id", "text", "lang")
      val e = embTable(s, dir)
        .select(col("vec_id").as("doc_id"), col("embedding"))
      val corpus = d.join(e, "doc_id")
      val prior = corpus.where(col("doc_id") % 3 === 1).localCheckpoint()
      val batch = corpus.where(col("doc_id") % 3 === 0)
        .unionByName(membraneReplicas(prior, prior, rewordedText))
      // §2.6: the semantic-key projection only needs `prior` — start its
      // job now so it overlaps the lexical gate's own jobs
      val semKeys = Par.async(Similarity.semanticKeys(prior, Flat(ivfCentroids),
        idCol = "doc_id").localCheckpoint())
      val kept4 = crawlGateSharedSnap(batch, prior,
        priorCanonKeys = Some(Dedup.canonicalKeys(prior)))
      val kept5 = Similarity.incrementalSemDedup(kept4, Par.await(semKeys,
          "p_crawl_sem semantic keys"),
        Flat(ivfCentroids), threshold = 0.999, idCol = "doc_id", nprobe = 1,
        maxCellSize = 1000)
      kept5.groupBy(floor(col("doc_id") / 20000).cast("long").as("class"))
        .agg(count(lit(1)).as("n_kept"), sum("doc_id").as("sum_ids"))
        .orderBy("class")
    }),

    // the FIVE-tier membrane under the TWO-LEVEL quantizer (r19) —
    // p_crawl_sem's exact fixture and replica classes, the semantic
    // tier swapped to the composed (coarse × fine residual) artifact:
    // the membrane a 10¹⁰-doc corpus actually runs once flat k ≈ √n
    // outgrows driver Lloyd. Same four lexical tiers in front, then
    // incrementalSemDedup over a two-level snapshot — the oracle
    // replays the composed cell assignment with the two-level CTE
    // chain (the p_semdedup_rekey2 machinery) inside the full crawl
    // gate replay, pinning that the composed tier COMPOSES: replica
    // classes land tier-for-tier exactly as under the flat quantizer
    "p_crawl_sem2" -> ((s, dir) => {
      val d = docTable(s, dir).select("doc_id", "text", "lang")
      val e = embTable(s, dir)
        .select(col("vec_id").as("doc_id"), col("embedding"))
      val corpus = d.join(e, "doc_id")
      val prior = corpus.where(col("doc_id") % 3 === 1).localCheckpoint()
      val batch = corpus.where(col("doc_id") % 3 === 0)
        .unionByName(membraneReplicas(prior, prior, rewordedText))
      val sem2 = TwoLevel(semCoarse4, semFine4)
      val semKeys = Par.async(Similarity.semanticKeys(prior, sem2,
        idCol = "doc_id").localCheckpoint())
      val kept4 = crawlGateSharedSnap(batch, prior,
        priorCanonKeys = Some(Dedup.canonicalKeys(prior)))
      val kept5 = Similarity.incrementalSemDedup(kept4, Par.await(semKeys,
          "p_crawl_sem2 semantic keys"),
        sem2, threshold = 0.999, idCol = "doc_id",
        nprobe = 1, maxCellSize = 1000)
      kept5.groupBy(floor(col("doc_id") / 20000).cast("long").as("class"))
        .agg(count(lit(1)).as("n_kept"), sum("doc_id").as("sum_ids"))
        .orderBy("class")
    }),

    // the FIVE-tier membrane over the PQ-COMPRESSED semantic artifact
    // (r19) — p_crawl_sem's fixture with the semantic snapshot storing
    // (id, cell, codes) only, both sides compared through encode∘decode
    // (incrementalSemDedup under Pq): the +80000 reworded class carries a
    // PRIOR doc's embedding, so its decoded cosine is EXACTLY 1.0 and
    // it blocks at ANY code budget. What the UNTRAINED fixed 4×16×16
    // budget trades is organic resolution: the clustered embeddings
    // table lands most organic docs on a prior doc's exact codes, so
    // the bulk of class 0 merges at sf0.01 (deterministic, replayed
    // bit-for-bit by the oracle's code/decode CASE chains) — the row
    // certifies the COMPOSITION's exactness; budget SIZING on real
    // data is PqSnapshotSpec's trained-budget parity read, where an
    // adequate TRAINED budget reproduces the raw tier's decisions
    "p_crawl_sem_pq" -> ((s, dir) => {
      val d = docTable(s, dir).select("doc_id", "text", "lang")
      val e = embTable(s, dir)
        .select(col("vec_id").as("doc_id"), col("embedding"))
      val corpus = d.join(e, "doc_id")
      val prior = corpus.where(col("doc_id") % 3 === 1).localCheckpoint()
      val batch = corpus.where(col("doc_id") % 3 === 0)
        .unionByName(membraneReplicas(prior, prior, rewordedText))
      val pq = Pq(ivfCentroids, pqBooks16)
      val semKeys = Par.async(Similarity.semanticKeys(prior, pq,
        idCol = "doc_id").localCheckpoint())
      val kept4 = crawlGateSharedSnap(batch, prior,
        priorCanonKeys = Some(Dedup.canonicalKeys(prior)))
      val kept5 = Similarity.incrementalSemDedup(kept4, Par.await(semKeys,
          "p_crawl_sem_pq semantic keys"),
        pq, threshold = 0.999, idCol = "doc_id",
        nprobe = 1, maxCellSize = 1000)
      kept5.groupBy(floor(col("doc_id") / 20000).cast("long").as("class"))
        .agg(count(lit(1)).as("n_kept"), sum("doc_id").as("sum_ids"))
        .orderBy("class")
    }),

    // the ZEROTH gate tier — URL-level incremental dedup, the membrane
    // layer that runs BEFORE any text exists (a hit saves the fetch
    // itself): within-batch canonical-url dedup + anti-join against the
    // persisted urlKeys snapshot. Classes: +20000 byte-identical prior
    // urls blocked; +40000 fragment-decorated VARIANTS of prior urls
    // blocked (canonicalization, not byte equality, is the key); +60000
    // fragment-decorated twins of batch urls collapse within-batch to
    // the smallest id; +80000 NULL-url rows ALL pass through untouched
    // (a null key is no evidence of duplication — the shared keyedGate
    // contract: not collapsed within-batch, not blocked by the
    // snapshot, which itself carries null keys from its own null-url
    // prior rows without poisoning the anti-join)
    "p_incr_url" -> ((s, dir) => {
      val fx = docTable(s, dir)
        .select(col("doc_id"), col("lang"), urlFixture.as("url"))
      val nullUrl = lit(null).cast("string")
      val prior = fx.where(col("doc_id") % 3 === 1)
        .unionByName(fx.where(col("doc_id") % 3 === 1 && col("doc_id") < 60)
          .select((col("doc_id") + 90000).as("doc_id"), col("lang"),
            nullUrl.as("url")))
      val batch = fx.where(col("doc_id") % 3 === 0)
        .unionByName(prior.where(col("doc_id") < 150)
          .withColumn("doc_id", col("doc_id") + 20000))
        .unionByName(prior.where(col("doc_id") >= 150 && col("doc_id") < 250)
          .select((col("doc_id") + 40000).as("doc_id"), col("lang"),
            concat(col("url"), lit("#extra")).as("url")))
        .unionByName(fx.where(col("doc_id") % 3 === 0 && col("doc_id") < 150)
          .select((col("doc_id") + 60000).as("doc_id"), col("lang"),
            concat(col("url"), lit("#dup")).as("url")))
        .unionByName(fx.where(col("doc_id") % 3 === 0 && col("doc_id") < 120)
          .select((col("doc_id") + 80000).as("doc_id"), col("lang"),
            nullUrl.as("url")))
      Dedup.incrementalUrlDedup(batch, Dedup.urlKeys(prior))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_new"), sum("doc_id").as("sum_ids"))
        .orderBy("lang")
    }),

    // ONE DAY through the COMPLETE membrane — the capstone a user of
    // the documented daily loop actually runs: four lexical gate tiers
    // → semantic tier → paragraph strip on the survivors (cross-day
    // boilerplate cut from the kept pages) → token budget → byte-pack →
    // real tar files → readback, one hash row over the shipped member
    // checksums. Pages carry shared boilerplate + a slogan line + the
    // doc body + a unique closer, so the strip has real work on every
    // kept page; one replica class per gate tier (+20000 normalized,
    // +40000 banded, +60000 signature-key, +80000 semantic — reworded
    // text under a prior embedding, far embeddings on the lexical
    // classes so tiers cannot mask each other)
    "p_daily_full" -> ((s, dir) => {
      val d = docTable(s, dir).select("doc_id", "text", "lang")
      val e = embTable(s, dir)
        .select(col("vec_id").as("doc_id"), col("embedding"))
      def page(t: org.apache.spark.sql.Column, id: org.apache.spark.sql.Column) =
        concat_ws("\n",
          lit("Subscribe to our newsletter today!"),
          concat(lit("Slogan number "), (id % 40).cast("string")),
          t,
          concat(lit("Unique closer "), id.cast("string")))
      val pbase = d.join(e, "doc_id").where(col("doc_id") % 3 === 1)
      val prior = pbase.select(col("doc_id"),
        page(col("text"), col("doc_id")).as("text"), col("lang"),
        col("embedding")).localCheckpoint()
      val batch = d.join(e, "doc_id").where(col("doc_id") % 3 === 0)
        .select(col("doc_id"), page(col("text"), col("doc_id")).as("text"),
          col("lang"), col("embedding"))
        .unionByName(membraneReplicas(prior, pbase,
          page(rewordedText, col("doc_id") + 80000)))
      // §2.6: the semantic-key projection only needs `prior` — start its
      // job now so it overlaps the lexical gate's own jobs
      val semKeys = Par.async(Similarity.semanticKeys(prior, Flat(ivfCentroids),
        idCol = "doc_id").localCheckpoint())
      val kept4 = crawlGateSharedSnap(batch, prior,
        priorCanonKeys = Some(Dedup.canonicalKeys(prior)))
      val kept5 = Similarity.incrementalSemDedup(kept4, Par.await(semKeys,
          "p_daily_full semantic keys"),
        Flat(ivfCentroids), threshold = 0.999, idCol = "doc_id", nprobe = 1,
        maxCellSize = 1000).localCheckpoint()
      val shipIn = Dedup.stripSeenParagraphs(kept5, Dedup.paragraphKeys(prior))
        .select(col("doc_id"), col("clean_text").as("text"))
        .join(kept5.select("doc_id", "lang"), "doc_id")
        .localCheckpoint()
      val chosen = Curation.takeTokenBudget(shipIn, "lang",
        Map("en" -> 20000L), defaultBudget = 8000L).select("doc_id")
      val packed = Curation.packShardsBySize(
        chosen.join(shipIn.select(col("doc_id"),
          octet_length(col("text")).as("n_bytes")), "doc_id"),
        "doc_id", "n_bytes", targetBytes = 16384L, salt = "dfull")
      val docsOut = packed.select("doc_id", "shard")
        .join(shipIn.select("doc_id", "text"), "doc_id")
        .select(col("shard"),
          format_string("%06d.txt", col("doc_id")).as("name"),
          col("text").cast("binary").as("payload"))
      val out = java.nio.file.Files.createTempDirectory("graft_dfull")
      graft.sources.TarShards.writeShards(docsOut, out.toString, "shard",
        "name", "payload")
      val res = graft.sources.TarShards.readShards(s, out.toString)
        .groupBy("shard")
        .agg(count(lit(1)).as("n_members"),
          sum(octet_length(col("body_text")).cast("long")).as("sum_bytes"),
          sum(conv(substring(md5(col("body_text")), 1, 12), 16, 10)
            .cast("long")).as("sum_h"))
        .select(lit(1).as("day"), col("shard"), col("n_members"),
          col("sum_bytes"), col("sum_h"))
        .orderBy("day", "shard")
        .localCheckpoint() // materialize BEFORE deleting the files
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(out).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
      res
    }),

    // the COMPLETE production gate ORDER — all SEVEN membranes + the
    // ship stage: url (pre-fetch) → exact/normalized/signature/banded
    // → semantic → paragraph strip → SPAN strip → budget → pack → tar
    // → readback. One replica class per gate tier: +20000 normalized /
    // +40000 banded / +60000 signature-key / +80000 semantic (all
    // carrying NOVEL urls so the zeroth tier cannot mask the tier
    // under test) and +100000 url-variant replicas of prior urls
    // carrying NOVEL text and far embeddings — only the zeroth tier
    // can block them. Every page body carries an INLINE share-bar tail
    // (inside the body line, so the paragraph tier cannot see it —
    // each body paragraph is unique): the span tier cuts exactly those
    // tokens from the kept pages before shipping
    "p_daily_full7" -> ((s, dir) => {
      val d = docTable(s, dir).select("doc_id", "text", "lang", "source")
      val e = embTable(s, dir)
        .select(col("vec_id").as("doc_id"), col("embedding"))
      def page(t: org.apache.spark.sql.Column, id: org.apache.spark.sql.Column) =
        concat_ws("\n",
          lit("Subscribe to our newsletter today!"),
          concat(lit("Slogan number "), (id % 40).cast("string")),
          t,
          concat(lit("Unique closer "), id.cast("string")))
      val bar = lit(" share this page on all social media channels right now thanks")
      val far = array_repeat(lit(25.0f), 64)
      val corpus = d.join(e, "doc_id")
      val pbase = corpus.where(col("doc_id") % 3 === 1)
      val prior = pbase.select(col("doc_id"),
        page(concat(col("text"), bar), col("doc_id")).as("text"), col("lang"),
        urlFixture.as("url"), col("embedding")).localCheckpoint()
      val batch = corpus.where(col("doc_id") % 3 === 0)
        .select(col("doc_id"),
          page(concat(col("text"), bar), col("doc_id")).as("text"),
          col("lang"), urlFixture.as("url"), col("embedding"))
        .unionByName(membraneReplicas(prior, pbase,
          page(rewordedText, col("doc_id") + 80000))
          .withColumn("url",
            concat(lit("https://replica.example.com/r/"),
              col("doc_id").cast("string"))))
        .unionByName(prior.where(col("doc_id") >= 350 && col("doc_id") < 450)
          .select((col("doc_id") + 100000).as("doc_id"),
            page(concat(lit("url replica body "), col("doc_id").cast("string")),
              col("doc_id") + 100000).as("text"),
            col("lang"), concat(col("url"), lit("#u")).as("url"),
            far.as("embedding")))
      // §2.6: the semantic-key and span-key projections only need
      // `prior` — start their jobs now so they overlap the url tier and
      // the lexical gate's own jobs
      val semKeys = Par.async(Similarity.semanticKeys(prior, Flat(ivfCentroids),
        idCol = "doc_id").localCheckpoint())
      val spanKeysF = Par.async(
        Dedup.spanKeys(prior, n = 3, minDocs = 3).localCheckpoint())
      val kept0 = Dedup.incrementalUrlDedup(batch,
          Dedup.urlKeys(prior), idCol = "doc_id")
        .drop("url").localCheckpoint()
      val kept4 = crawlGateSharedSnap(kept0, prior,
        priorCanonKeys = Some(Dedup.canonicalKeys(prior)))
      val kept5 = Similarity.incrementalSemDedup(kept4, Par.await(semKeys,
          "p_daily_full7 semantic keys"),
        Flat(ivfCentroids), threshold = 0.999, idCol = "doc_id", nprobe = 1,
        maxCellSize = 1000).localCheckpoint()
      val paraStripped = Dedup.stripSeenParagraphs(kept5,
          Dedup.paragraphKeys(prior))
        .select(col("doc_id"), col("clean_text").as("text"))
      val shipIn = Dedup.stripSeenSpans(paraStripped,
          Par.await(spanKeysF, "p_daily_full7 span keys"), n = 3)
        .select(col("doc_id"), col("clean_text").as("text"))
        .join(kept5.select("doc_id", "lang"), "doc_id")
        .localCheckpoint()
      val chosen = Curation.takeTokenBudget(shipIn, "lang",
        Map("en" -> 20000L), defaultBudget = 8000L).select("doc_id")
      val packed = Curation.packShardsBySize(
        chosen.join(shipIn.select(col("doc_id"),
          octet_length(col("text")).as("n_bytes")), "doc_id"),
        "doc_id", "n_bytes", targetBytes = 16384L, salt = "dfull7")
      val docsOut = packed.select("doc_id", "shard")
        .join(shipIn.select("doc_id", "text"), "doc_id")
        .select(col("shard"),
          format_string("%06d.txt", col("doc_id")).as("name"),
          col("text").cast("binary").as("payload"))
      val out = java.nio.file.Files.createTempDirectory("graft_dfull7")
      graft.sources.TarShards.writeShards(docsOut, out.toString, "shard",
        "name", "payload")
      val res = graft.sources.TarShards.readShards(s, out.toString)
        .groupBy("shard")
        .agg(count(lit(1)).as("n_members"),
          sum(octet_length(col("body_text")).cast("long")).as("sum_bytes"),
          sum(conv(substring(md5(col("body_text")), 1, 12), 16, 10)
            .cast("long")).as("sum_h"))
        .select(lit(1).as("day"), col("shard"), col("n_members"),
          col("sum_bytes"), col("sum_h"))
        .orderBy("day", "shard")
        .localCheckpoint() // materialize BEFORE deleting the files
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(out).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
      res
    }),

    // SEMANTIC-tier retention — the embedding snapshot under the same
    // one-knob lifecycle as the lexical tiers: day-1 gate against
    // retain(gen0, 0) blocks +20000 exact-embedding replicas of the
    // prior; the snapshot advances with day-1 acceptances (gen 1);
    // day-2 gates against retain(gen1, 1), so +40000 replicas of the
    // AGED-OUT gen-0 prior RE-ADMIT while +60000 replicas of day-1
    // acceptances stay blocked. Without the generation stamp/retain on
    // the embedding snapshot the +40000 class would stay blocked by
    // an eternal embedding table — the same eternal-artifact bug r13-15
    // closed for the key/signature/canonical tiers
    "p_incr_semdedup_ttl" -> ((s, dir) => {
      val e = embTable(s, dir).select("vec_id", "embedding")
      val prior = e.where(col("vec_id") % 3 === 1)
      val gen0 = Dedup.stampGeneration(
        Similarity.semanticKeys(prior, Flat(ivfCentroids)), "id", 0L)
        .localCheckpoint()
      val day1 = e.where(col("vec_id") % 3 === 2)
        .unionByName(prior.where(col("vec_id") < 100)
          .withColumn("vec_id", col("vec_id") + 20000))
      val kept1 = Similarity.incrementalSemDedup(day1,
        Dedup.retainGenerations(gen0, "id", 0L), Flat(ivfCentroids),
        threshold = 0.999, nprobe = 1, maxCellSize = 1000).localCheckpoint()
      val gen1 = gen0.unionByName(Dedup.stampGeneration(
        Similarity.semanticKeys(kept1, Flat(ivfCentroids)), "id", 1L))
      val day2 = e.where(col("vec_id") % 3 === 0)
        .unionByName(prior.where(col("vec_id") >= 100 && col("vec_id") < 200)
          .withColumn("vec_id", col("vec_id") + 40000))
        .unionByName(e.where(col("vec_id") % 3 === 2 && col("vec_id") < 100)
          .withColumn("vec_id", col("vec_id") + 60000))
      val kept2 = Similarity.incrementalSemDedup(day2,
        Dedup.retainGenerations(gen1, "id", 1L), Flat(ivfCentroids),
        threshold = 0.999, nprobe = 1, maxCellSize = 1000)
      kept1.select(lit(1).as("day"), col("vec_id"))
        .unionByName(kept2.select(lit(2).as("day"), col("vec_id")))
        .groupBy("day")
        .agg(count(lit(1)).as("n_new"), sum("vec_id").as("sum_ids"))
        .orderBy("day")
    }),

    // the quantizer-GROWTH lifecycle (rekeySemanticSnapshot): a corpus
    // grown past its quantizer has over-cap cells, and cappedCells then
    // passes their members UNGATED — the fixed-k decay that silently
    // turns the paraphrase membrane into a no-op. Golden 16-cluster
    // corpus (SF-independent, exact-in-float): under the STALE k=2
    // quantizer both prior cells (~333) blow the 200-cap, so +20000
    // exact-embedding replicas of the prior ALL PASS; re-keying the
    // SAME snapshot under the grown k=16 quantizer (one map-only pass
    // over the stored embeddings — no corpus re-read) brings cells to
    // ~42 and the replicas block. One row per (path, id-class)
    "p_semdedup_rekey" -> ((s, dir) => {
      val all = rekeyGolden(s)
      val prior = all.where(col("vec_id") % 3 === 1)
      val snapStale = Similarity.semanticKeys(prior, Flat(rekeyStaleCents))
        .localCheckpoint()
      val batch = all.where(col("vec_id") % 3 === 0)
        .unionByName(prior.where(col("vec_id") < 150)
          .withColumn("vec_id", col("vec_id") + 20000))
      def classes(kept: DataFrame, path: String) =
        kept.groupBy(floor(col("vec_id") / 20000).cast("long").as("class"))
          .agg(count(lit(1)).as("n_kept"), sum("vec_id").as("sum_ids"))
          .select(lit(path).as("path"), col("class"), col("n_kept"),
            col("sum_ids"))
      classes(Similarity.incrementalSemDedup(batch, snapStale,
          Flat(rekeyStaleCents), threshold = 0.999, nprobe = 1,
          maxCellSize = 200), "stale")
        .unionByName(classes(Similarity.incrementalSemDedup(batch,
          Similarity.rekeySemanticSnapshot(snapStale, Flat(rekeyNewCents)),
          Flat(rekeyNewCents), threshold = 0.999, nprobe = 1,
          maxCellSize = 200), "rekeyed"))
        .orderBy("path", "class")
    }),

    // the re-key lifecycle PAST the driver-training ceiling: same
    // golden corpus and stale k=2 decay as p_semdedup_rekey, but the
    // grown quantizer is the TWO-LEVEL 4×4 composed factorization
    // (coarse residue groups × fine within-group residuals — k1+k2=8
    // trained centroids for 16 effective cells, the k ≈ √n contract's
    // shape at 10¹⁰ docs where flat k is driver-intractable). The
    // stale path passes the +20000 replicas ungated (cells over cap);
    // the composed re-key (rekeySemanticSnapshot, one map-only pass)
    // blocks them — the oracle replays BOTH quantizers, the composed
    // one via the two-level cell CTE chain
    "p_semdedup_rekey2" -> ((s, dir) => {
      val all = rekeyGolden(s)
      val prior = all.where(col("vec_id") % 3 === 1)
      val snapStale = Similarity.semanticKeys(prior, Flat(rekeyStaleCents))
        .localCheckpoint()
      val batch = all.where(col("vec_id") % 3 === 0)
        .unionByName(prior.where(col("vec_id") < 150)
          .withColumn("vec_id", col("vec_id") + 20000))
      def classes(kept: DataFrame, path: String) =
        kept.groupBy(floor(col("vec_id") / 20000).cast("long").as("class"))
          .agg(count(lit(1)).as("n_kept"), sum("vec_id").as("sum_ids"))
          .select(lit(path).as("path"), col("class"), col("n_kept"),
            col("sum_ids"))
      val rekey2 = TwoLevel(rekeyCoarse, rekeyFine)
      classes(Similarity.incrementalSemDedup(batch, snapStale,
          Flat(rekeyStaleCents), threshold = 0.999, nprobe = 1,
          maxCellSize = 200), "stale")
        .unionByName(classes(Similarity.incrementalSemDedup(batch,
          Similarity.rekeySemanticSnapshot(snapStale, rekey2), rekey2,
          threshold = 0.999, nprobe = 1, maxCellSize = 200), "rekeyed2"))
        .orderBy("path", "class")
    }),

    // PQ-COMPRESSED semantic snapshot gate (r18 stretch): the
    // persisted artifact stores (id, cell, codes) — 4 ints replacing
    // 64 floats — and verification decodes BOTH sides through the
    // same static codebooks. Exact +20000 replicas carry their
    // source's codes, so their decoded cosine is EXACTLY 1.0 and they
    // block at ANY code budget; what the tiny 4×4×16 budget trades is
    // near-dup resolution (organically-similar docs sharing codes
    // merge), which is deterministic and replayed bit-for-bit by the
    // oracle's decode CASE chains (decision parity at an adequate
    // TRAINED budget is PqSnapshotSpec's read)
    "p_semdedup_pq" -> ((s, dir) => {
      val all = rekeyGolden(s)
      val prior = all.where(col("vec_id") % 3 === 1)
      val pq = Pq(rekeyNewCents, pqBooks)
      val snap = Similarity.semanticKeys(prior, pq).localCheckpoint()
      val batch = all.where(col("vec_id") % 3 === 0)
        .unionByName(prior.where(col("vec_id") < 150)
          .withColumn("vec_id", col("vec_id") + 20000))
      Similarity.incrementalSemDedup(batch, snap, pq,
          threshold = 0.999, nprobe = 1, maxCellSize = 200)
        .groupBy(floor(col("vec_id") / 20000).cast("long").as("class"))
        .agg(count(lit(1)).as("n_kept"), sum("vec_id").as("sum_ids"))
        .orderBy("class")
    }),

    // the re-key lifecycle INSIDE the daily loop — the operational
    // sequence a months-running pipeline actually executes: day-1 gate
    // against the STALE-k stamped snapshot (its cells blow the cap, so
    // +20000 replicas of the prior pass ungated — the decay), then
    // occupancy-driven RE-KEY of the whole stamped table under the
    // grown quantizer (_gen carried — retention ages must not move),
    // then ADVANCE with day-1 acceptances stamped gen 1, then the
    // day-2 gate under the grown quantizer: +40000 replicas of the
    // prior AND +60000 replicas of day-1 acceptances both block — the
    // membrane is restored without re-reading any corpus text or
    // embedding source
    "p_semdedup_rekey_loop" -> ((s, dir) => {
      val all = rekeyGolden(s)
      val prior = all.where(col("vec_id") % 3 === 1)
      val gen0 = Dedup.stampGeneration(
        Similarity.semanticKeys(prior, Flat(rekeyStaleCents)), "id", 0L)
        .localCheckpoint()
      val day1 = all.where(col("vec_id") % 3 === 0 && col("vec_id") < 1000)
        .unionByName(prior.where(col("vec_id") < 150)
          .withColumn("vec_id", col("vec_id") + 20000))
      val kept1 = Similarity.incrementalSemDedup(day1,
        Dedup.retainGenerations(gen0, "id", 0L), Flat(rekeyStaleCents),
        threshold = 0.999, nprobe = 1, maxCellSize = 200).localCheckpoint()
      // the lifecycle turn: re-key the WHOLE stamped table (map-only,
      // stamps carried), advance with day-1 acceptances under the
      // grown quantizer
      val gen1 = Similarity.rekeySemanticSnapshot(gen0, Flat(rekeyNewCents))
        .unionByName(Dedup.stampGeneration(
          Similarity.semanticKeys(kept1, Flat(rekeyNewCents)), "id", 1L))
      val day2 = all.where(col("vec_id") % 3 === 0 && col("vec_id") >= 1000)
        .unionByName(prior.where(col("vec_id") >= 150 && col("vec_id") < 300)
          .withColumn("vec_id", col("vec_id") + 40000))
        .unionByName(day1.where(col("vec_id") % 3 === 0 && col("vec_id") < 150)
          .withColumn("vec_id", col("vec_id") + 60000))
      val kept2 = Similarity.incrementalSemDedup(day2,
        Dedup.retainGenerations(gen1, "id", 0L), Flat(rekeyNewCents),
        threshold = 0.999, nprobe = 1, maxCellSize = 200)
      kept1.select(lit(1).as("day"), col("vec_id"))
        .unionByName(kept2.select(lit(2).as("day"), col("vec_id")))
        .groupBy(col("day"),
          floor(col("vec_id") / 20000).cast("long").as("class"))
        .agg(count(lit(1)).as("n_kept"), sum("vec_id").as("sum_ids"))
        .orderBy("day", "class")
    }),

    // learned quality-filter scoring: hashed-BoW (64 buckets, raw counts)
    // through the codegen dot-product kernel against a pinned literal
    // gblinear model — the map-only inference path of QualityClassifier
    // (training itself is pinned by the t_hash_quality_clf digest)
    "p_quality_clf" -> ((s, dir) => {
      val scored = graft.ext.QualityClassifier.scoreDocs(
        docTable(s, dir).where(col("doc_id") < 100),
        qcModel, numBuckets = 64, sublinearTf = false)
      scored.select(col("doc_id"),
        round(col("quality_margin"), 5).as("quality_margin"),
        (col("quality_margin") > 0).cast("long").as("kept"))
        .orderBy("doc_id")
    }),

    // learned lang-id SCORING path: pinned literal 5-class softmax
    // weights over hashed char bigrams, first-occurrence argmax
    // (training is pinned by the t_hash_lang_clf digest)
    "p_lang_clf" -> ((s, dir) => {
      val scored = graft.ext.LangClassifier.scoreDocs(
        docTable(s, dir).where(col("doc_id") < 100)
          .select(col("doc_id"), col("text")),
        lcModel, lcClasses, numBuckets = 64)
      scored.select(col("doc_id"),
        col("lang_pred"),
        round(col("lang_margin"), 5).as("lang_margin"))
        .orderBy("doc_id")
    }),

    // stopword-profile language-ID heuristic
    "p_lang_id" -> ((s, dir) => {
      val t = TextOps.tokens(col("text"))
      docTable(s, dir).where(col("doc_id") < 100)
        .select(col("doc_id"),
          round(TextOps.enStopwordRatio(t), 5).as("en_ratio"),
          when(TextOps.enStopwordRatio(t) > 0.05, "en").otherwise("other").as("guess"))
        .orderBy("doc_id")
    }),

    // heuristic quality score
    "p_quality" -> ((s, dir) => {
      val t = TextOps.tokens(col("text"))
      docTable(s, dir).where(col("doc_id") < 100)
        .select(col("doc_id"), size(t).cast("long").as("n_tokens"),
          round(TextOps.qualityScore(col("text"), t), 5).as("quality"))
        .orderBy("doc_id")
    }),

    // corpus token statistics per language
    "p_token_stats" -> ((s, dir) => docTable(s, dir)
      .select(col("lang"), col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
      .groupBy("lang")
      .agg(countDistinct("doc_id").as("n_docs"), count(lit(1)).as("n_tokens"),
        countDistinct("tok").as("n_distinct"))
      .orderBy("lang")),

    // order-sensitive rolling-hash document fingerprint
    "p_fingerprint" -> ((s, dir) => docTable(s, dir)
      .where(col("doc_id") < 100)
      .select(col("doc_id"), TextOps.fingerprint(TextOps.tokens(col("text"))).as("fp"))
      .orderBy("doc_id")),

    // top-20 corpus terms by total TF-IDF
    "p_tfidf" -> ((s, dir) => {
      val d = docTable(s, dir)
      val toks = d.select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("term"))
      val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val df = toks.groupBy("term").agg(countDistinct("doc_id").as("df"))
      val n = d.agg(count(lit(1)).as("n"))
      // plain shuffle join on term: the document-frequency table is
      // vocabulary-sized (unbounded at corpus scale), so broadcasting it
      // would not survive 100 TB; the 1-row corpus count stays broadcast
      // per-contribution rounding to a scaled BIGINT before the sum:
      // integer addition is order-independent, so the hash compare cannot
      // flip on Spark's partial-aggregation order (ADVICE r2)
      tf.join(df, "term").crossJoin(broadcast(n))
        .groupBy("term")
        .agg((sum(round(col("tf").cast("double") *
            log(col("n").cast("double") / col("df").cast("double")) * 10000.0)
          .cast("long")) / 10000.0).as("tfidf"))
        .orderBy(col("tfidf").desc, col("term"))
        .limit(20)
    }),

    // embedding norms per class label (vector-column ops)
    "p_embed_norm" -> ((s, dir) => embTable(s, dir)
      .groupBy("label")
      // per-row norms round to scaled BIGINTs before the mean: the integer
      // sum is aggregation-order-independent (ADVICE r2)
      .agg(count(lit(1)).as("n"),
        round(sum(round(Similarity.l2Norm(col("embedding")) * 100000.0).cast("long"))
          / 100000.0 / count(lit(1)), 5).as("avg_norm"))
      .orderBy("label")),

    // multimodal plumbing: opaque binary payload + stub decode features
    "p_multimodal_meta" -> ((s, dir) => {
      val payload = Multimodal.asPayload(col("text"))
      val dec = Multimodal.decodeStub(payload)
      docTable(s, dir).where(col("doc_id") < 100)
        .select(col("doc_id"),
          dec.getField("n_bytes").cast("long").as("n_bytes"),
          dec.getField("checksum").as("checksum"),
          round(element_at(dec.getField("embedding"), 1), 5).as("e0"))
        .orderBy("doc_id")
    }),

    // REAL audio decode: RIFF/PCM WAV payloads built per doc (square wave,
    // oracle-reproducible parameters) → chunk-walking parser → RMS /
    // zero-crossing / duration features, batched per partition
    // (ext.MediaCodecs). DuckDB recomputes the closed forms.
    "p_wav_decode" -> ((s, dir) => {
      import s.implicits._
      val payloads = docTable(s, dir).where(col("doc_id") < 100)
        .select(col("doc_id")).as[Long]
        .map(id => (id, MediaCodecs.wavFixture(id)))
      MediaCodecs.decodeAudio(payloads)
        .select(col("media_id").as("doc_id"),
          col("sample_rate").cast("long").as("sample_rate"),
          col("n_samples"),
          round(col("rms"), 4).as("rms"),
          col("zero_crossings"),
          round(col("duration_ms"), 4).as("duration_ms"))
        .orderBy("doc_id")
    }),

    // REAL image decode: BI_RGB 24-bit BMP payloads (deterministic
    // gradient) → header/stride/bottom-up-aware parser → dimensions +
    // mean channel intensities; DuckDB recomputes the means over the
    // same pixel grid with a lateral range expansion.
    "p_bmp_decode" -> ((s, dir) => {
      import s.implicits._
      val payloads = docTable(s, dir).where(col("doc_id") < 100)
        .select(col("doc_id")).as[Long]
        .map(id => (id, MediaCodecs.bmpFixture(id)))
      MediaCodecs.decodeImage(payloads)
        .select(col("media_id").as("doc_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          round(col("mean_r"), 4).as("mean_r"),
          round(col("mean_g"), 4).as("mean_g"),
          round(col("mean_b"), 4).as("mean_b"))
        .orderBy("doc_id")
    }),

    // REAL baseline-JPEG decode (ext.Jpeg: marker parse → Huffman → zigzag
    // dequant → IDCT), no codec library. The fixture is constant within
    // each 8×8 block, so decode is BIT-EXACT (DC-only coefficients + flat
    // quant) and the mean has a closed form over the block grid — the
    // lossy general path is bounded + ImageIO-cross-validated in JpegSpec.
    "p_jpeg_decode" -> ((s, dir) => {
      import s.implicits._
      val payloads = docTable(s, dir).where(col("doc_id") < 100)
        .select(col("doc_id")).as[Long]
        .map(id => (id, Jpeg.jpegFixture(id)))
      Jpeg.decodeImages(payloads)
        .select(col("media_id").as("doc_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          round(col("mean_r"), 4).as("mean_y"))
        .orderBy("doc_id")
    }),

    // REAL PNG decode (ext.Png: chunk walk → zlib inflate → all-five-filter
    // unfilter), no codec library. PNG is lossless so the decode is exact
    // for any fixture; the oracle recomputes the gradient means directly.
    "p_png_decode" -> ((s, dir) => {
      import s.implicits._
      val payloads = docTable(s, dir).where(col("doc_id") < 100)
        .select(col("doc_id")).as[Long]
        .map(id => (id, Png.pngFixture(id)))
      Png.decodeImages(payloads)
        .select(col("media_id").as("doc_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          round(col("mean_r"), 4).as("mean_r"),
          round(col("mean_g"), 4).as("mean_g"),
          round(col("mean_b"), 4).as("mean_b"))
        .orderBy("doc_id")
    }),

    // REAL video frame-sample (ext.Avi): RIFF walk → every-2nd MJPEG
    // frame → ext.Jpeg decode, all pure JVM. Unsampled frames are never
    // entropy-decoded; one output row per sampled frame. Per-block-constant
    // fixture ⇒ bit-exact decode ⇒ closed-form per-frame means.
    "p_video_frames" -> ((s, dir) => {
      import s.implicits._
      val payloads = docTable(s, dir).where(col("doc_id") < 100)
        .select(col("doc_id")).as[Long]
        .map(id => (id, Avi.aviFixture(id)))
      Avi.sampleVideos(payloads, stride = 2)
        .select(col("media_id").as("doc_id"),
          col("frame_idx").cast("long").as("frame_idx"),
          col("n_frames").cast("long").as("n_frames"),
          round(col("fps"), 4).as("fps"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          round(col("mean_y"), 4).as("mean_y"))
        .orderBy("doc_id", "frame_idx")
    }),

    // REAL MP3 frame-header walk (ext.Mp3): sync scan, header fields,
    // frame-length stepping, ID3v2 skip → duration/bitrate/CBR metadata
    // without PCM synthesis (which stays the declared stub). Closed-form
    // oracle from the fixture parameters.
    "p_mp3_meta" -> ((s, dir) => {
      import s.implicits._
      val payloads = docTable(s, dir).where(col("doc_id") < 100)
        .select(col("doc_id")).as[Long]
        .map(id => (id, Mp3.mp3Fixture(id)))
      Mp3.parseStreams(payloads)
        .select(col("media_id").as("doc_id"),
          col("sample_rate").cast("long").as("sample_rate"),
          col("n_frames").cast("long").as("n_frames"),
          col("is_cbr").cast("long").as("is_cbr"),
          round(col("avg_bitrate_kbps"), 4).as("avg_bitrate_kbps"),
          round(col("duration_ms"), 4).as("duration_ms"))
        .orderBy("doc_id")
    }),

    // URL canonicalization + host/registered-domain extraction over the
    // messy urlFixture; all regexes live in the Java∩RE2 subset so the
    // oracle evaluates the identical patterns.
    "p_url_normalize" -> ((s, dir) => {
      val fx = docTable(s, dir)
        .select(col("doc_id"), urlFixture.as("url"))
      fx.select(col("doc_id"),
        graft.ext.UrlOps.normalize(col("url")).as("norm_url"),
        graft.ext.UrlOps.domain(col("url")).as("domain"),
        graft.ext.UrlOps.registeredDomain(col("url")).as("reg_domain"))
        .orderBy("doc_id")
    }),

    // URL-level dedup: canonicalize then keep the smallest doc_id per
    // normalized URL (every doc_id % 250 pair collides after tracking
    // params and fragments are stripped) — the crawl-frontier dedup
    "p_url_dedup" -> ((s, dir) => {
      val fx = docTable(s, dir).select(col("doc_id"),
        concat(
          lit("HTTPS://WWW.Example.COM/Page/"),
          (col("doc_id") % 250).cast("string"),
          when(col("doc_id") % 2 === 0,
            concat(lit("?utm_source=feed"), lit("&utm_term="),
              col("doc_id").cast("string")))
            .otherwise(lit("")),
          when(col("doc_id") % 5 === 0, lit("#top")).otherwise(lit("")))
          .as("url"))
      val canon = fx.select(col("doc_id"),
        graft.ext.UrlOps.normalize(col("url")).as("norm_url"))
      Dedup.exactDedup(canon, "norm_url", "doc_id")
        .groupBy()
        .agg(count(lit(1)).as("n_kept"), sum("doc_id").as("sum_ids"))
    }),

    // RefinedWeb-style per-domain quota: keep the 7 smallest doc_ids per
    // domain via one hash-partitioned window; the oracle replays the
    // same row_number with QUALIFY.
    "p_domain_cap" -> ((s, dir) => {
      val fx = docTable(s, dir)
        .select(col("doc_id"), urlFixture.as("url"))
      graft.ext.UrlOps.capPerDomain(fx, "url", "doc_id", cap = 7)
        .groupBy("domain")
        .agg(count(lit(1)).as("n_kept"), sum("doc_id").as("sum_ids"))
        .orderBy("domain")
    }),

    // the SKEW-SALTED cap (two-stage: per-(domain, salt) pre-cap, then
    // the exact window over ≤ salts·cap survivors) — row-identical to
    // the single window by construction, so it shares p_domain_cap's
    // oracle semantics; the hot-domain sort parallelizes across salts
    "p_domain_cap_salted" -> ((s, dir) => {
      val fx = docTable(s, dir)
        .select(col("doc_id"), urlFixture.as("url"))
      graft.ext.UrlOps.capPerDomain(fx, "url", "doc_id", cap = 7,
          skewSalts = 8)
        .groupBy("domain")
        .agg(count(lit(1)).as("n_kept"), sum("doc_id").as("sum_ids"))
        .orderBy("domain")
    }),

    // Domain-holdout split: group-consistent train/val assignment by
    // registered domain (hash60 of the salted domain under a permille
    // threshold — map-only, reproducible, no shuffle). The per-(split,
    // reg_domain) aggregate pins BOTH that assignment is domain-
    // consistent (each domain appears under exactly one split) and the
    // exact hash arithmetic
    "p_domain_holdout" -> ((s, dir) => {
      val fx = docTable(s, dir)
        .select(col("doc_id"), urlFixture.as("url"))
      graft.ext.UrlOps.holdoutByDomain(fx, "url", valPermille = 200,
          salt = "ho1")
        .groupBy("split", "reg_domain")
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("sum_ids"))
        .orderBy("split", "reg_domain")
    }),

    // Temperature-weighted mixture sampling (n_l^0.5 allocation, half the
    // corpus) over lang strata: the rate table pins the float contract
    // (stratum-ordered weight sum, micro-rate round-half-up) and n_kept
    // pins the md5-coin.
    "p_temperature_sample" -> ((s, dir) => {
      import s.implicits._
      val docs = docTable(s, dir)
      val kept = Curation.temperatureSample(docs, "lang", "doc_id",
        alpha = 0.5, targetFraction = 0.5)
      val rates = Curation.temperatureRates(docs, "lang", 0.5, 0.5)
        .toDF("lang", "n_docs", "rate_micro")
      rates.join(
          kept.groupBy("lang").agg(count(lit(1)).as("n_kept")), Seq("lang"), "left")
        .select(col("lang"), col("n_docs"), col("rate_micro"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"))
        .orderBy("lang")
    }),

    // one-pass corpus profile: per-lang volume, token/char totals,
    // exact-dup exposure and mean quality — the summary a curation run
    // reports before/after each stage (single scan, two aggregates)
    "p_corpus_stats" -> ((s, dir) => {
      val docs = docTable(s, dir)
        .select(col("doc_id"), col("lang"), col("text"),
          TextOps.tokens(col("text")).as("_toks"), md5(col("text")).as("_h"))
      val dupDocs = docs.groupBy("_h").agg(count(lit(1)).as("c"))
        .where(col("c") >= 2)
        .agg(coalesce(sum("c"), lit(0L)).as("n_dup_docs"))
      docs.groupBy("lang").agg(
          count(lit(1)).as("n_docs"),
          sum(size(col("_toks"))).cast("long").as("n_tokens"),
          sum(length(col("text"))).cast("long").as("n_chars"),
          round(avg(size(col("_toks"))), 4).as("avg_tokens"))
        .crossJoin(broadcast(dupDocs)) // 1-row scalar broadcast
        .orderBy("lang")
    }),

    // sliding-window chunking (32-token chunks, stride 24 → 8-token
    // overlap) straight over the corpus; md5 per chunk pins content and
    // boundaries
    "p_chunk_text" -> ((s, dir) =>
      Curation.chunkTokens(docTable(s, dir), "doc_id", "text",
          chunkSize = 32, stride = 24)
        .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
          col("n_chunk_tokens").cast("long").as("n_chunk_tokens"),
          md5(col("chunk_text")).as("chunk_md5"))
        .orderBy("doc_id", "chunk_id")),

    // HTML → text extraction over a fixture page with style/script
    // blocks, a comment, entities and a tag-lookalike entity (decoded
    // AFTER tag-strip, so it must survive) — stripped string compared
    // verbatim.
    "p_html_strip" -> ((s, dir) => {
      val fx = docTable(s, dir).select(col("doc_id"),
        concat(
          lit("<html><head><style>p { color: red }</style><!-- note --></head>" +
            "<body><h1>Title "),
          (col("doc_id") % 100).cast("string"),
          lit("</h1><p>First &amp; second &lt;tag&gt;.</p>" +
            "<script>var x = 1 < 2;</script>" +
            "<SCRIPT type=\"text/javascript\">var y = 2;</SCRIPT>" +
            "<Style>h1 { top: 0 }</Style><p>"),
          substring(col("text"), 1, 30),
          lit(".</p></body></html>")).as("html"))
      fx.select(col("doc_id"),
          graft.ext.Cleaning.stripHtml(col("html")).as("stripped"))
        .orderBy("doc_id")
    }),

    // sentence segmentation (lookaround-free [^.!?]+[.!?]+ runs) over
    // the stripped fixture text
    "p_sentence_split" -> ((s, dir) => {
      val fx = docTable(s, dir).select(col("doc_id"),
        concat(lit("First sentence here. Second one! Third? trailing bit"),
          lit(" id "), (col("doc_id") % 7).cast("string")).as("t"))
      fx.select(col("doc_id"),
          graft.ext.Cleaning.sentences(col("t")).as("sents"))
        .select(col("doc_id"),
          size(col("sents")).cast("long").as("n_sentences"),
          md5(array_join(col("sents"), "|")).as("sent_md5"))
        .orderBy("doc_id")
    }),

    // Full cleaning composition (fixText → C4 → PII redact → paragraph
    // dedup) over the pageFixture plus a per-doc unique keeper line: the
    // shared boilerplate lines all fall to the paragraph dedup, leaving
    // (for most docs) exactly the unique line — the md5 pins the whole
    // four-stage composition end to end.
    "p_clean_pipeline" -> ((s, dir) => {
      val fx = docTable(s, dir).select(col("doc_id"),
        concat(pageFixture, lit("\n"),
          substring(col("text"), 1, 40), lit(" stays unique today."))
          .as("page"))
      graft.ext.Cleaning.cleanCorpus(fx, "doc_id", "page")
        .select(col("doc_id"),
          col("n_paras").cast("long").as("n_paras"),
          col("n_dup_paras").cast("long").as("n_dup_paras"),
          md5(col("page")).as("clean_md5"))
        .orderBy("doc_id")
    }),

    // Temperature MIXING with upsampling (alpha=0.3, full-corpus
    // budget): low-resource langs get rates > 1 → deterministic epoch
    // replication with copy ids; per-lang row counts pin rates + coins
    "p_temperature_mix" -> ((s, dir) => {
      import s.implicits._
      val docs = docTable(s, dir)
      val mixed = Curation.temperatureMix(docs, "lang", "doc_id",
        alpha = 0.3, targetFraction = 1.0)
      val rates = Curation.temperatureRatesUnclamped(docs, "lang", 0.3, 1.0)
        .toDF("lang", "n_docs", "rate_micro")
      rates.join(
          mixed.groupBy("lang").agg(
            count(lit(1)).as("n_rows"),
            countDistinct("doc_id").as("n_docs_kept")), Seq("lang"), "left")
        .select(col("lang"), col("n_docs"), col("rate_micro"),
          coalesce(col("n_rows"), lit(0L)).as("n_rows"),
          coalesce(col("n_docs_kept"), lit(0L)).as("n_docs_kept"))
        .orderBy("lang")
    }),

    // Paragraph-level dedup (Dolma-style boilerplate removal) over a
    // fixture page of: corpus-wide boilerplate (every doc), a group
    // slogan (~10 docs each), a blank structural line, the unique word
    // salad, and a per-doc unique marker — dup paragraphs vanish, order
    // and blanks survive, page compared by md5.
    "p_para_dedup" -> ((s, dir) => {
      val fx = docTable(s, dir).select(col("doc_id"),
        concat_ws("\n",
          lit("Subscribe to our newsletter today!"),
          concat(lit("Group slogan number "), (col("doc_id") % 50).cast("string")),
          lit(""),
          col("text"),
          concat(lit("Unique marker "), col("doc_id").cast("string"))).as("page"))
      Dedup.paragraphDedup(fx, "page", "doc_id", minCount = 2)
        .select(col("doc_id"),
          col("n_paras").cast("long").as("n_paras"),
          col("n_dup_paras").cast("long").as("n_dup_paras"),
          md5(col("clean_text")).as("clean_md5"))
        .orderBy("doc_id")
    }),

    // the PARAGRAPH gate tier (the fifth crawl-gate tier): day-1 pages
    // ship; their paragraph keys become a stamped snapshot projection;
    // day-2 pages — novel docs plus +20000 replicas of day-1 docs —
    // lose EXACTLY the paragraphs day 1 shipped (boilerplate header,
    // the shared slogan line, and for replicas the whole day-1 body)
    // while novel paragraphs and structural blanks survive. Both
    // policy reads ship in one hash: retain(minGen=0) blocks, and
    // retain(minGen=1) ages the gen-0 keys out so every paragraph
    // re-admits — the same one-knob lifecycle as the other four tiers.
    // The +20000 offset is a multiple of 40, so a replica's slogan
    // line is byte-identical to its original's
    "p_crawl_para" -> ((s, dir) => {
      val d = docTable(s, dir).select("doc_id", "text")
      def page(df: org.apache.spark.sql.DataFrame) = df.select(col("doc_id"),
        concat_ws("\n",
          lit("Subscribe to our newsletter today!"),
          concat(lit("Slogan number "), (col("doc_id") % 40).cast("string")),
          col("text"),
          lit(""),
          concat(lit("Unique closer "), col("doc_id").cast("string"))).as("text"))
      val day1 = page(d.where(col("doc_id") % 3 === 1))
      val gen0 = Dedup.stampGeneration(Dedup.paragraphKeys(day1), 0L)
        .localCheckpoint()
      val day2 = page(d.where(col("doc_id") % 3 === 0)
        .unionByName(d.where(col("doc_id") % 3 === 1 && col("doc_id") < 150)
          .withColumn("doc_id", col("doc_id") + 20000)))
      def strip(minGen: Long, policy: String) =
        Dedup.stripSeenParagraphs(day2, Dedup.retainGenerations(gen0, minGen))
          .select(lit(policy).as("policy"), col("doc_id"),
            col("n_paras").cast("long").as("n_paras"),
            col("n_seen_paras").cast("long").as("n_seen_paras"),
            md5(col("clean_text")).as("clean_md5"))
      strip(0L, "retain0").unionByName(strip(1L, "aged"))
        .orderBy("policy", "doc_id")
    }),

    // the repeated-SPAN gate tier (inline boilerplate across days —
    // the class the paragraph tier cannot see, needing an exact
    // '\n'-span match): day-1 pages carry an inline share-bar tail;
    // its 3-grams go hot (every day-1 doc carries them), their md5s
    // become the stamped snapshot; day-2 pages lose exactly the
    // covered tokens while novel text survives. Both policy reads in
    // one hash row: retain(minGen=0) strips, retain(minGen=1) ages
    // the gen-0 keys out so nothing is cut — the same one-knob
    // lifecycle as the other six tiers. The day-1 corpus text itself
    // contributes organically-hot 3-grams too; the oracle replays the
    // full hot set, not just the fixture tail
    "p_incr_span" -> ((s, dir) => {
      val d = docTable(s, dir).select("doc_id", "text")
      def page(df: org.apache.spark.sql.DataFrame) = df.select(col("doc_id"),
        concat(col("text"),
          lit(" share this page on all social media channels right now thanks"))
          .as("text"))
      val day1 = page(d.where(col("doc_id") % 3 === 1))
      val gen0 = Dedup.stampGeneration(
        Dedup.spanKeys(day1, n = 3, minDocs = 3), 0L).localCheckpoint()
      val day2 = page(d.where(col("doc_id") % 3 === 0))
      def strip(minGen: Long, policy: String) =
        Dedup.stripSeenSpans(day2, Dedup.retainGenerations(gen0, minGen),
            n = 3)
          .select(lit(policy).as("policy"), col("doc_id"),
            col("n_tokens").cast("long").as("n_tokens"),
            col("n_removed").cast("long").as("n_removed"),
            md5(col("clean_text")).as("clean_md5"))
      strip(0L, "retain0").unionByName(strip(1L, "aged"))
        .orderBy("policy", "doc_id")
    }),

    // C4 line/page cleaning (Raffel et al. 2020 §2.2) over the
    // deterministic pageFixture; the oracle re-runs the same line
    // predicate with a DuckDB list_filter lambda and compares the
    // cleaned page by md5.
    "p_c4_clean" -> ((s, dir) => {
      val docs = docTable(s, dir)
        .select(col("doc_id"), pageFixture.as("page"))
      Cleaning.c4Clean(docs, "doc_id", "page")
        .select(col("doc_id"),
          col("n_lines").cast("long").as("n_lines"),
          col("n_kept").cast("long").as("n_kept"),
          col("page_keep").cast("long").as("page_keep"),
          md5(col("clean_text")).as("clean_md5"))
        .orderBy("doc_id")
    }),

    // Text fixing (control strip + whitespace collapse + trim, then NFC
    // LAST via the graft_nfc codegen expression — the idempotent order)
    // over a fixture with a combining acute, doubled spaces/tabs and a
    // BEL control char; the oracle runs the same regexes then DuckDB's
    // utf8proc nfc_normalize in the same order. The O+BEL+U+0301
    // fragment pins the ORDER in the md5: stripping the BEL makes the
    // mark adjacent, so NFC-last composes it (1 char) while the broken
    // NFC-first order leaves it decomposed (2 chars) — fixed_len and
    // fixed_md5 both flip if the order regresses.
    "p_fix_text" -> ((s, dir) => {
      val fx = docTable(s, dir).select(col("doc_id"),
        concat(lit(" Cafe\u0301  du\t\tMarche\u0301 "),
          substring(col("text"), 1, 20),
          lit(" end\u0007bell O\u0007\u0301k "),
          (col("doc_id") % 10).cast("string")).as("raw"))
      fx.select(col("doc_id"), graft.ext.Cleaning.fixText(col("raw")).as("fixed"))
        .select(col("doc_id"),
          length(col("fixed")).cast("long").as("fixed_len"),
          md5(col("fixed")).as("fixed_md5"))
        .orderBy("doc_id")
    }),

    // PII redaction (email/phone/IPv4 → typed placeholders) over the
    // same fixture; patterns live in the Java∩RE2 subset so DuckDB
    // evaluates the identical regexes, redacted page compared by md5.
    "p_pii_redact" -> ((s, dir) => {
      val docs = docTable(s, dir)
        .select(col("doc_id"), pageFixture.as("page"))
      Cleaning.redactPii(docs, "doc_id", "page")
        .select(col("doc_id"),
          col("n_emails").cast("long").as("n_emails"),
          col("n_phones").cast("long").as("n_phones"),
          col("n_ips").cast("long").as("n_ips"),
          md5(col("redacted")).as("redacted_md5"))
        .orderBy("doc_id")
    }),

    // REAL GIF decode (ext.Gif): LZW with variable 3–12-bit codes +
    // palette lookup, no codec library. Lossless ⇒ the oracle recomputes
    // the indexed-gradient channel means exactly.
    "p_gif_decode" -> ((s, dir) => {
      import s.implicits._
      val payloads = docTable(s, dir).where(col("doc_id") < 100)
        .select(col("doc_id")).as[Long]
        .map(id => (id, Gif.gifFixture(id)))
      Gif.decodeImages(payloads)
        .select(col("media_id").as("doc_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          round(col("mean_r"), 4).as("mean_r"),
          round(col("mean_g"), 4).as("mean_g"),
          round(col("mean_b"), 4).as("mean_b"))
        .orderBy("doc_id")
    }),

    // REAL image preprocessing (ext.ImageOps): PNG decode → bilinear
    // resize to a fixed 4×4 thumbnail, one row per target pixel. The
    // half-pixel-center interpolation uses only dyadic-rational arithmetic
    // on integer channels with explicit floor(v+0.5) rounding, so the
    // DuckDB oracle recomputes the EXACT same integers from the gradient
    // closed form.
    "p_image_resize" -> ((s, dir) => {
      import s.implicits._
      val payloads = docTable(s, dir).where(col("doc_id") < 100)
        .select(col("doc_id")).as[Long]
        .map(id => (id, Png.pngFixture(id)))
      ImageOps.resizedPngRows(payloads, 4, 4)
        .select(col("media_id").as("doc_id"),
          col("px").cast("long").as("px"),
          col("r").cast("long").as("r"),
          col("g").cast("long").as("g"),
          col("b").cast("long").as("b"))
        .orderBy("doc_id", "px")
    }),

    // REAL audio DSP (ext.AudioDsp): 64-point radix-2 FFT power spectrum
    // of the square-wave WAV fixture, amplitude-normalized. The DuckDB
    // oracle recomputes the O(n²) NAIVE DFT of the same samples — a true
    // independent recomputation (different algorithm, different libm),
    // agreeing to 4 decimals.
    "p_audio_spectrum" -> ((s, dir) => {
      import s.implicits._
      val payloads = docTable(s, dir).where(col("doc_id") < 100)
        .select(col("doc_id")).as[Long]
        .map(id => (id, MediaCodecs.wavFixture(id)))
      AudioDsp.spectrumRows(payloads, size = 64)
        .select(col("media_id").as("doc_id"),
          col("bin").cast("long").as("bin"),
          round(col("npower"), 4).as("npower"))
        .orderBy("doc_id", "bin")
    }),

    // MFCC golden digest (mel filterbank + log + DCT-II are not reasonably
    // SQL-expressible): order-independent checksum of all rounded
    // coefficient vectors, pinned like the t_hash_* rows; spec invariants
    // (Parseval, tone peak, determinism) cover the math.
    "t_hash_mfcc" -> ((s, dir) => {
      import s.implicits._
      val payloads = docTable(s, dir).where(col("doc_id") < 100)
        .select(col("doc_id")).as[Long]
        .map(id => (id, MediaCodecs.wavFixture(id)))
      AudioDsp.mfccRows(payloads)
        .select(TextOps.hash60(concat_ws(",",
          transform(col("mfcc"), v => round(v, 4).cast("string")))).as("h"),
          col("n_frames"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_frames").cast("long")).as("total_frames"),
          sum(col("h").cast("decimal(38,0)")).cast("string").as("mfcc_checksum"))
    }),

    // REAL BPE tokenizer (ext.Bpe) end-to-end on an SF-independent golden
    // corpus: distributed word counts → bounded driver merge loop →
    // broadcast map-only encode. Golden-digest row in the t_hash_* style:
    // the merge list md5 and an order-independent integer checksum of all
    // 1000 encodings are PINNED — any change to count tiebreaks, the merge
    // loop, or the rank-based encoder flips the row red.
    "t_hash_bpe" -> ((s, _) => {
      import s.implicits._
      val docs = bpeGoldenCorpus(s)
      val model = Bpe.trainFromCorpus(docs, "text", numMerges = 48, topWords = 200)
      val md = java.security.MessageDigest.getInstance("MD5")
      val mergesMd5 = md.digest(
        model.merges.map { case (a, b) => s"$a $b" }.mkString("\n").getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      Bpe.encodeDocs(docs, "text", "doc_id", model)
        .select(TextOps.hash60(concat_ws(" ", col("pieces"))).as("h"), col("n_pieces"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_pieces").cast("long")).as("total_pieces"),
          sum(col("h").cast("decimal(38,0)")).cast("string").as("enc_checksum"))
        .select(lit(mergesMd5).as("merges_md5"),
          lit(model.merges.length.toLong).as("n_merges"),
          col("n_docs"), col("total_pieces"), col("enc_checksum"))
    }),

    // ---- corpus-quality filters (ext.CorpusFilters) ------------------------

    // eval-benchmark decontamination (GPT-3 appendix C shape): the src0
    // slice plays the held-out benchmark; training docs sharing any
    // distinct 5-gram with it are contaminated. Benchmark n-grams
    // broadcast — the corpus side never shuffles on the n-gram key.
    "p_decontaminate" -> ((s, dir) => {
      val docs = docTable(s, dir)
      CorpusFilters.decontaminate(
        docs.where(col("source") =!= "src0"),
        docs.where(col("source") === "src0"), n = 5)
        .orderBy("doc_id")
    }),

    // Gopher repetition rules (Rae et al. 2021 §A1.1): top-bigram and
    // duplicate-trigram token fractions + keep decision
    "p_gopher_repetition" -> ((s, dir) =>
      CorpusFilters.repetitionStats(docTable(s, dir))
        .orderBy("doc_id")),

    // CCNet-shape perplexity filter: per-doc NLL under the corpus unigram
    // LM, fixed-point micro-nats (order-independent integer sums)
    "p_unigram_nll" -> ((s, dir) =>
      CorpusFilters.unigramNll(docTable(s, dir))
        .orderBy("doc_id")),

    // bigram-LM perplexity filter (Jelinek–Mercer interpolation to the
    // unigram) — the CCNet ladder one rung above p_unigram_nll
    "p_bigram_nll" -> ((s, dir) =>
      CorpusFilters.bigramNll(docTable(s, dir))
        .orderBy("doc_id")),

    // DSIR importance log-weight toward the lang='en' target slice over
    // 512 hashed unigram buckets (bounded → broadcast lookup)
    "p_dsir_weight" -> ((s, dir) =>
      CorpusFilters.dsirLogWeight(docTable(s, dir),
        col("lang") === "en").orderBy("doc_id")),

    // full Gopher quality rules (non-repetition half): bounds, ratios
    // and stop-hit containment over the raw corpus
    "p_gopher_quality" -> ((s, dir) =>
      CorpusFilters.gopherQuality(docTable(s, dir))
        .select(col("doc_id"), col("n_words"), col("mean_word_len"),
          col("symbol_ratio"), col("bullet_frac"), col("ellipsis_frac"),
          col("alpha_frac"), col("stop_hits"),
          col("quality_keep").cast("long").as("quality_keep"))
        .orderBy("doc_id")),

    // CCNet head/middle/tail: per-lang perplexity terciles (exact
    // integer mean micro-nats, ntile with doc-id tiebreak); per-tier
    // counts + id sums pin every bucket assignment
    "p_ccnet_buckets" -> ((s, dir) =>
      CorpusFilters.ccnetBuckets(docTable(s, dir))
        .groupBy("lang", "tier")
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("sum_ids"),
          min("mean_nll_micro").as("min_nll"), max("mean_nll_micro").as("max_nll"))
        .orderBy("lang", "tier")),

    // end-to-end curation pipeline: exact dedup → repetition gate →
    // decontamination (vs src0) → stratified sample → 256-token packing,
    // summarized per pack
    "p_curation_pipeline" -> ((s, dir) => {
      val docs = docTable(s, dir)
      val curated = CorpusFilters.curate(
        docs.where(col("source") =!= "src0"),
        docs.where(col("source") === "src0"),
        "lang", Map("en" -> 0.5), defaultRate = 0.2)
      Curation.packSequences(curated, "text", "doc_id", 256)
        .groupBy("pack_id")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("total_tokens"))
        .orderBy("pack_id")
    })
  )

  // deterministic hyperplanes shared between the Spark plan and the oracle
  private val planes: Array[Array[Double]] = Similarity.hyperplanes(4, 64, seed = 42L)

  // the 16-plane corpus-scale bucketing (65536 buckets, multi-probe)
  private val planes16: Array[Array[Double]] = Similarity.hyperplanes(16, 64, seed = 42L)

  // fixed 8-cell IVF coarse quantizer, likewise shared as literals
  private[graft] val ivfCentroids: Array[Array[Double]] = Similarity.hyperplanes(8, 64, seed = 7L)

  /** 16-cluster one-hot-block quantizer for the re-key lifecycle row:
    * centroid c carries 8.0 on dims i ≡ c (mod 16) — every value exact
    * in float AND double, so the Spark float pipeline and the DuckDB
    * double replay agree bit-for-bit with no rounding hazard. The
    * "stale" undersized quantizer is its first two centroids. */
  private val rekeyNewCents: Array[Array[Double]] =
    Array.tabulate(16)(c => Array.tabulate(64)(i => if (i % 16 == c) 8.0 else 0.0))
  private val rekeyStaleCents: Array[Array[Double]] =
    Array(rekeyNewCents(0), rekeyNewCents(8))

  /** Fixed 4×4 composed quantizer over the real `embeddings` table for
    * the five-tier-membrane-under-two-level row (`p_crawl_sem2`) —
    * deterministic seeded hyperplanes shared as literals with the
    * oracle, the [[ivfCentroids]] convention (cell QUALITY is
    * irrelevant to gate correctness; assignment determinism is what
    * the oracle replays). 16 composed cells ≈ the flat row's 8. */
  private val semCoarse4: Array[Array[Double]] = Similarity.hyperplanes(4, 64, seed = 13L)
  private val semFine4: Array[Array[Double]] = Similarity.hyperplanes(4, 64, seed = 29L)

  /** 4×4 TWO-LEVEL factorization of the same 16-cluster structure for
    * the composed-quantizer re-key row: coarse b covers residue group
    * i%16 ∈ [4b, 4b+4) (amplitude 2 — exact in float/double), fine j
    * covers i%4 == j (amplitude 8), so composed cell (i%16)/4·4 + i%4
    * separates cluster i%16 exactly like the flat k=16 quantizer while
    * training only 4+4 centroids (the Ivf2Spec parity). */
  private val rekeyCoarse: Array[Array[Double]] =
    Array.tabulate(4)(b => Array.tabulate(64)(i => if (i % 16 / 4 == b) 2.0 else 0.0))
  private val rekeyFine: Array[Array[Double]] =
    Array.tabulate(4)(j => Array.tabulate(64)(i => if (i % 4 == j) 8.0 else 0.0))

  /** SF-independent golden embedding corpus for the re-key row (the
    * bpeGoldenCorpus contract): 2000 vectors in the 16 one-hot-block
    * clusters of [[rekeyNewCents]], jittered by an exact-in-float
    * lattice (k·2⁻⁶, k < 97) derived from (vec_id, dim) so both engines
    * rebuild identical values. Under the stale k=2 quantizer the prior
    * lands ~333 per cell (over the row's 200-cap — the tier silently
    * no-ops, the decay this row exists to demonstrate); under the grown
    * k=16 quantizer ~42 per cell. */
  private def rekeyGolden(s: SparkSession): DataFrame =
    s.range(2000).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)),
        i => (when(i % 16 === col("id") % 16, lit(8.0)).otherwise(lit(0.0)) +
          ((col("id") * 31 + i * 7) % 97).cast("double") * lit(0.015625))
          .cast("float")).as("embedding"))

  /** [[rekeyGolden]] in DuckDB dialect (same exact-float lattice). */
  private val rekeyGoldenSql =
    """SELECT vec_id, list_transform(range(0, 64), i ->
      |    CAST(CAST(CASE WHEN i % 16 = vec_id % 16 THEN 8.0 ELSE 0.0 END
      |      + ((vec_id * 31 + i * 7) % 97) * 0.015625 AS FLOAT) AS DOUBLE))
      |    AS embedding
      |  FROM range(2000) t(vec_id)""".stripMargin

  // fixed PQ codebooks: 4 subspaces × 4 centroids × 16 dims, shared as
  // literals with the oracle (data-trained path covered in ScalaTest)
  private val pqBooks: Array[Array[Array[Double]]] = Similarity.pqCodebooks(4, 4, 16, seed = 11L)

  /** Wider fixed PQ codebooks (4 subspaces × 16 centroids × 16 dims)
    * for the PQ-membrane capstone: at k = 4 per sub the whole corpus
    * collapses onto 256 reconstructions and the semantic tier merges
    * the organic class away — correct but degenerate; k = 16 (65 536
    * reconstructions) keeps organic docs on distinct codes while the
    * exact-replica guarantee stays budget-independent. */
  private val pqBooks16: Array[Array[Array[Double]]] = Similarity.pqCodebooks(4, 16, 16, seed = 31L)

  /** Pinned literal 5-class lang-id model for the p_lang_clf scoring
    * row (training pinned by t_hash_lang_clf): deterministic seeded
    * weights, class list = the corpus langs sorted. */
  private val lcClasses = Seq("de", "en", "es", "fr", "zh")
  private val lcWeights: Array[Array[Double]] =
    Similarity.hyperplanes(5, 64, seed = 23L).map(_.map(_ / 8.0))
  private val lcModel = graft.linear.MultiLinearModel(
    lcWeights, bias = Array.tabulate(5)(k => 0.01 * k),
    baseScore = Array.fill(5)(0.0), objective = "multi:softmax",
    numFeatures = 64)

  /** Pinned literal quality-filter model for the p_quality_clf scoring
    * row: deterministic seeded weights (the model under test is the
    * SCORING path; training is pinned by t_hash_quality_clf). */
  private val qcWeights: Array[Double] = Similarity.hyperplanes(1, 64, seed = 19L)(0).map(_ / 8.0)
  private val qcModel = graft.linear.LinearModel(
    qcWeights, bias = 0.05, baseScore = 0.0,
    objective = "binary:logistic", numFeatures = 64)

  // ---- oracle SQL ----------------------------------------------------------

  private val cosSql: String = {
    val dp = Similarity.dotSql("qe", "embedding", 64)
    val nq = s"sqrt(${Similarity.dotSql("qe", "qe", 64)})"
    val ne = s"sqrt(${Similarity.dotSql("embedding", "embedding", 64)})"
    s"round(($dp) / (($nq) * ($ne)), 5)"
  }

  /** The semantic gate's round-5 cosine between join aliases `b`
    * (batch/probe side) and `p` (prior side), both on an `embedding`
    * column — single-sourced across every membrane oracle row (the
    * ivfCellCtesFor discipline: a rounding or association change must
    * reach all of them or none). */
  private val cosBP: String = {
    val dp = Similarity.dotSql("b.embedding", "p.embedding", 64)
    val nb = s"sqrt(${Similarity.dotSql("b.embedding", "b.embedding", 64)})"
    val np = s"sqrt(${Similarity.dotSql("p.embedding", "p.embedding", 64)})"
    s"round(($dp) / (($nb) * ($np)), 5)"
  }

  private def bucketSqlFor(vec: String, ps: Array[Array[Double]]): String =
    ps.zipWithIndex.map { case (p, i) =>
      val dp = s"list_sum(list_transform(range(1, 65), i -> CAST($vec[i] AS DOUBLE) * (${Similarity.planeSql(p)})[i]))"
      s"(CASE WHEN ($dp) > 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  private def bucketSql(vec: String): String = bucketSqlFor(vec, planes)

  private val stopListSql = TextOps.EnStopwords.map(w => s"'$w'").mkString("[", ", ", "]")

  // ---- IVF oracle fragments: distances as CTE columns d0..d7, argmin and
  // ---- second-argmin as first-match CASE chains (ties → lowest index,
  // ---- matching IvfCells' strictly-less scan) ----
  private val ivfK = ivfCentroids.length

  /** `d<i>` column definitions for a vector column: |c|² − 2·v·c with the
    * centroid norm emitted as a Scala-computed literal (bit-identical to
    * the Spark kernel's). Parameterized by the centroid set so the
    * re-key row can replay a SECOND (stale / grown) quantizer with the
    * same single-sourced fragments. */
  private def ivfDistColsFor(vec: String,
      cents: Array[Array[Double]]): String =
    cents.zipWithIndex.map { case (c, i) =>
      val normSq = c.map(x => x * x).sum
      val dp = s"list_sum(list_transform(range(1, 65), j -> CAST($vec[j] AS DOUBLE) * (${Similarity.planeSql(c)})[j]))"
      s"($normSq - 2.0 * ($dp)) AS d$i"
    }.mkString(", ")

  private def ivfDistCols(vec: String): String =
    ivfDistColsFor(vec, ivfCentroids)

  private def ivfLeastAllFor(k: Int): String =
    (0 until k).map(i => s"d$i").mkString("least(", ", ", ")")

  private val ivfLeastAll = ivfLeastAllFor(ivfK)

  /** First-match argmin over the d columns. */
  private def ivfCellCaseFor(k: Int): String =
    (0 until k).map(i => s"WHEN d$i = m THEN $i").mkString("CASE ", " ", " END")

  private val ivfCellCase = ivfCellCaseFor(ivfK)

  /** The semantic tier's cell-assignment CTE chain over a (vec_id,
    * embedding) source: `{name}` ends up as (vec_id, embedding, cell)
    * with the nearest-cell argmin (ties → lowest index, the IvfCells
    * scan). `cap` replays [[Similarity.cappedCells]]' per-cell window
    * drop inline — pass None when the row applies its caps in separate
    * CTEs (the retention rows). Single-sourced so the membrane rows
    * cannot drift on the cell replay. */
  private def ivfCellCtesFor(name: String, src: String, cap: Option[Int],
      cents: Array[Array[Double]]): String = {
    val cellCase = ivfCellCaseFor(cents.length)
    val qualify = cap.map(c =>
      s"\n  QUALIFY count(*) OVER (PARTITION BY $cellCase) <= $c")
      .getOrElse("")
    s"""${name}_d AS (
       |  SELECT vec_id, embedding, ${ivfDistColsFor("embedding", cents)} FROM $src
       |), ${name}_m AS (SELECT *, ${ivfLeastAllFor(cents.length)} AS m FROM ${name}_d),
       |$name AS (
       |  SELECT vec_id, embedding, $cellCase AS cell FROM ${name}_m$qualify
       |)""".stripMargin
  }

  private def ivfCellCtes(name: String, src: String,
      cap: Option[Int]): String = ivfCellCtesFor(name, src, cap, ivfCentroids)

  /** TWO-LEVEL composed-cell CTE chain — [[ivfCellCtesFor]]'s sibling
    * replaying [[graft.ext.Ivf2Cells]] bit for bit: coarse argmin
    * (first-match CASE, ties → lowest index) over |c|² − 2·v·c, then
    * v·fine dots as columns, then per-coarse-branch fine distances
    * |f|² − 2·(vf − c·f) with |f|² and the k1×k2 c·f table emitted as
    * Scala-computed literals (the ivfDistColsFor discipline — the
    * exact doubles the Spark kernel uses), fine argmin, composed cell
    * c1·k2 + c2. `cap` replays the per-cell cap inline. */
  private def ivf2CellCtesFor(name: String, src: String, cap: Option[Int],
      coarse: Array[Array[Double]], fine: Array[Array[Double]]): String = {
    val k1 = coarse.length
    val k2 = fine.length
    val coarseCols = coarse.zipWithIndex.map { case (c, i) =>
      val normSq = c.map(x => x * x).sum
      val dp = s"list_sum(list_transform(range(1, 65), j -> CAST(embedding[j] AS DOUBLE) * (${Similarity.planeSql(c)})[j]))"
      s"($normSq - 2.0 * ($dp)) AS d$i"
    }.mkString(", ")
    val least1 = (0 until k1).map(i => s"d$i").mkString("least(", ", ", ")")
    val c1Case = (0 until k1).map(i => s"WHEN d$i = m THEN $i")
      .mkString("CASE ", " ", " END")
    val vfCols = fine.zipWithIndex.map { case (f, j) =>
      s"(list_sum(list_transform(range(1, 65), j2 -> CAST(embedding[j2] AS DOUBLE) * (${Similarity.planeSql(f)})[j2]))) AS vf$j"
    }.mkString(", ")
    val fdCols = (0 until k2).map { j =>
      val normF = fine(j).map(x => x * x).sum
      val cc = (0 until k1).map { b =>
        // coarse(b)·fine(j) left-to-right — Ivf2Cells.ccDot's loop
        val d = coarse(b).zip(fine(j)).map { case (a, x) => a * x }.sum
        s"WHEN $b THEN $d"
      }.mkString("CASE c1 ", " ", " END")
      s"($normF - 2.0 * (vf$j - ($cc))) AS fd$j"
    }.mkString(", ")
    val least2 = (0 until k2).map(j => s"fd$j").mkString("least(", ", ", ")")
    val c2Case = (0 until k2).map(j => s"WHEN fd$j = m2 THEN $j")
      .mkString("CASE ", " ", " END")
    val qualify = cap.map(c =>
      s"\n  QUALIFY count(*) OVER (PARTITION BY c1 * $k2 + ($c2Case)) <= $c")
      .getOrElse("")
    s"""${name}_d AS (
       |  SELECT vec_id, embedding, $coarseCols FROM $src
       |), ${name}_m AS (SELECT *, $least1 AS m FROM ${name}_d),
       |${name}_c1 AS (SELECT vec_id, embedding, $c1Case AS c1 FROM ${name}_m),
       |${name}_vf AS (SELECT *, $vfCols FROM ${name}_c1),
       |${name}_fd AS (SELECT *, $fdCols FROM ${name}_vf),
       |${name}_m2 AS (SELECT *, $least2 AS m2 FROM ${name}_fd),
       |$name AS (
       |  SELECT vec_id, embedding, c1 * $k2 + ($c2Case) AS cell FROM ${name}_m2$qualify
       |)""".stripMargin
  }

  /** Second-nearest cell: per first-cell branch, first-match argmin over
    * the remaining columns. */
  private val ivfCell2Case = {
    val branches = (0 until ivfK).map { b =>
      val rest = (0 until ivfK).filter(_ != b)
      val m2 = rest.map(i => s"d$i").mkString("least(", ", ", ")")
      val inner = rest.map(i => s"WHEN d$i = ($m2) THEN $i").mkString("CASE ", " ", " END")
      s"WHEN $b THEN ($inner)"
    }
    s"CASE cell1 ${branches.mkString(" ")} END"
  }

  // ---- PQ oracle fragments: per-sub distance cols e{s}_{c} (|c|² − 2·v·c
  // ---- with Scala-computed norm literals, matching PqCodes), first-match
  // ---- argmin codes, and ADC sub-totals summed in sub order (matching
  // ---- PqAdc's grouping) ----
  private val pqM = pqBooks.length
  private val pqK = pqBooks(0).length
  private val pqSubDim = pqBooks(0)(0).length

  private def pqDistColsFor(vec: String,
      books: Array[Array[Array[Double]]]): String =
    (for (s <- books.indices; c <- books(s).indices) yield {
      val cb = books(s)(c)
      val subDim = cb.length
      val normSq = cb.map(x => x * x).sum
      val dp = s"list_sum(list_transform(range(1, ${subDim + 1}), " +
        s"j -> CAST($vec[j + ${s * subDim}] AS DOUBLE) * (${Similarity.planeSql(cb)})[j]))"
      s"($normSq - 2.0 * ($dp)) AS e${s}_$c"
    }).mkString(", ")

  private def pqDistCols(vec: String): String = pqDistColsFor(vec, pqBooks)

  private def pqCodeColsFor(books: Array[Array[Array[Double]]]): String =
    books.indices.map { s =>
      val ks = books(s).indices
      val m = ks.map(c => s"e${s}_$c").mkString("least(", ", ", ")")
      val cse = ks.map(c => s"WHEN e${s}_$c = ($m) THEN $c")
        .mkString("CASE ", " ", " END")
      s"($cse) AS code$s"
    }.mkString(", ")

  private val pqCodeCols: String = pqCodeColsFor(pqBooks)

  /** Decoded PQ vector as a SQL list — per-sub CASE over the code
    * picking the centroid list literal, sub lists concatenated in
    * order (`||`): the exact lookup [[graft.ext.PqDecode]] performs,
    * no arithmetic on either engine. */
  private def pqDecodeSqlFor(books: Array[Array[Array[Double]]]): String =
    books.indices.map { s =>
      val branches = books(s).indices.map(c =>
        s"WHEN $c THEN ${Similarity.planeSql(books(s)(c))}").mkString(" ")
      s"(CASE code$s $branches END)"
    }.mkString(" || ")

  private val pqDecodeSql: String = pqDecodeSqlFor(pqBooks)

  private def pqAdcSql(qe: String): String =
    (0 until pqM).map { s =>
      val branches = (0 until pqK).map { c =>
        val lit = Similarity.planeSql(pqBooks(s)(c))
        val term = s"(CAST($qe[j + ${s * pqSubDim}] AS DOUBLE) - ($lit)[j])"
        s"WHEN $c THEN list_sum(list_transform(range(1, ${pqSubDim + 1}), j -> $term * $term))"
      }.mkString(" ")
      s"(CASE code$s $branches END)"
    }.mkString(" + ")

  /** Shared CTE chain of the MinHash-LSH miner (shingles → signatures →
    * banded buckets → capped candidates → exact-Jaccard pairs); consumed
    * by the p_near_dup and p_dup_clusters oracles. */
  private lazy val nearDupCtes: String = {
    val r = NumHashes / Bands
    val sig = (0 until NumHashes).map(k => mhSql(k)).mkString("[", ", ", "]")
    val bandKeys = (0 until Bands).map { b =>
      val slots = (0 until r).map(j => s"CAST(sig[${b * r + j + 1}] AS VARCHAR)")
      s"(SELECT $b AS band, md5(${slots.mkString("concat(", ", '_', ", ")")}) AS key)"
    }
    s"""sh AS (
       |  SELECT doc_id AS id, $shingleSql AS s
       |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
       |), sig AS (
       |  SELECT id, s, $sig AS sig FROM sh WHERE len(s) > 0
       |), buckets AS (
       |  SELECT id, bk.band, bk.key FROM sig,
       |    LATERAL (${bandKeys.mkString(" UNION ALL ")}) bk
       |  QUALIFY count(*) OVER (PARTITION BY bk.band, bk.key) <= $MaxBucket
       |), cand AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM buckets a JOIN buckets b
       |    ON a.band = b.band AND a.key = b.key AND a.id < b.id
       |), pairs AS (
       |  SELECT id_a, id_b,
       |    CAST(len(list_intersect(x.s, y.s)) AS DOUBLE) /
       |      greatest(len(list_distinct(x.s || y.s)), 1) AS jac
       |  FROM cand JOIN sh x ON x.id = cand.id_a JOIN sh y ON y.id = cand.id_b
       |)""".stripMargin
  }

  /** The miner CTE chain at an arbitrary (numHashes, bands) operating
    * point, in the same explode→hash→aggregate shape as
    * `Dedup.minhashSignatures` (md5 computed ONCE per (doc, shingle,
    * salt group), not once per slot — at 128 hashes the naive per-slot
    * form costs 64× more md5 work in the oracle). */
  private def nearDupCtesFor(numHashes: Int, bands: Int,
      source: String = "documents"): String = {
    val r = numHashes / bands
    val groups = (numHashes + Dedup.HashesPerGroup - 1) / Dedup.HashesPerGroup
    val hashCols = (0 until groups).map { g =>
      val x = if (g == 0) "x" else s"concat(x, '#$g')"
      s"CAST(concat('0x', substr(md5($x), 1, 15)) AS BIGINT) AS h1_$g, " +
        s"CAST(concat('0x', substr(md5($x), 17, 14)) AS BIGINT) AS h2_$g"
    }.mkString(", ")
    val minAggs = (0 until numHashes).map { k =>
      val g = k / Dedup.HashesPerGroup
      val j = k % Dedup.HashesPerGroup
      s"min(h1_$g + $j * h2_$g) AS mh$k"
    }.mkString(", ")
    val bandKeys = (0 until bands).map { b =>
      val slots = (0 until r).map(j => s"CAST(mh${b * r + j} AS VARCHAR)")
      s"(SELECT $b AS band, md5(${slots.mkString("concat(", ", '_', ", ")")}) AS key)"
    }
    s"""sh AS (
       |  SELECT doc_id AS id, $shingleSql AS s
       |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM $source)
       |), hx AS (
       |  SELECT id, $hashCols
       |  FROM (SELECT id, unnest(s) AS x FROM sh WHERE len(s) > 0)
       |), sig AS (
       |  SELECT id, $minAggs FROM hx GROUP BY id
       |), buckets AS (
       |  SELECT id, bk.band, bk.key FROM sig,
       |    LATERAL (${bandKeys.mkString(" UNION ALL ")}) bk
       |  QUALIFY count(*) OVER (PARTITION BY bk.band, bk.key) <= $MaxBucket
       |), cand AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM buckets a JOIN buckets b
       |    ON a.band = b.band AND a.key = b.key AND a.id < b.id
       |), pairs AS (
       |  SELECT id_a, id_b,
       |    CAST(len(list_intersect(x.s, y.s)) AS DOUBLE) /
       |      greatest(len(list_distinct(x.s || y.s)), 1) AS jac
       |  FROM cand JOIN sh x ON x.id = cand.id_a JOIN sh y ON y.id = cand.id_b
       |)""".stripMargin
  }

  /** Per-document signature-KEY CTE chain (= `Dedup.nearDupKeys` /
    * `incrementalNearDedup` key): the '_'-joined minhash signature, md5
    * fallback for shingle-less docs. `src` must expose (doc_id, text);
    * CTE names carry `prefix` so two chains coexist in one query. The
    * fallback needs the CASE (not coalesce over concat_ws): DuckDB's
    * concat_ws SKIPS nulls, so an unmatched left join would yield ''
    * rather than NULL. */
  private def sigKeyCtes(prefix: String, src: String, numHashes: Int): String = {
    val groups = (numHashes + Dedup.HashesPerGroup - 1) / Dedup.HashesPerGroup
    val hashCols = (0 until groups).map { g =>
      val x = if (g == 0) "x" else s"concat(x, '#$g')"
      s"CAST(concat('0x', substr(md5($x), 1, 15)) AS BIGINT) AS h1_$g, " +
        s"CAST(concat('0x', substr(md5($x), 17, 14)) AS BIGINT) AS h2_$g"
    }.mkString(", ")
    val minAggs = (0 until numHashes).map { k =>
      val g = k / Dedup.HashesPerGroup
      val j = k % Dedup.HashesPerGroup
      s"min(h1_$g + $j * h2_$g) AS mh$k"
    }.mkString(", ")
    val keyConcat = (0 until numHashes).map(k => s"CAST(mh$k AS VARCHAR)")
      .mkString("concat_ws('_', ", ", ", ")")
    s"""${prefix}_sh AS (
       |  SELECT doc_id AS id, text, $shingleSql AS s
       |  FROM (SELECT doc_id, text, string_split(text, ' ') AS t FROM $src)
       |), ${prefix}_hx AS (
       |  SELECT id, $hashCols
       |  FROM (SELECT id, unnest(s) AS x FROM ${prefix}_sh WHERE len(s) > 0)
       |), ${prefix}_sig AS (
       |  SELECT id, $minAggs FROM ${prefix}_hx GROUP BY id
       |), ${prefix}_key AS (
       |  SELECT sh.id, CASE WHEN g.id IS NULL THEN md5(sh.text)
       |    ELSE $keyConcat END AS key
       |  FROM ${prefix}_sh sh LEFT JOIN ${prefix}_sig g ON g.id = sh.id
       |)""".stripMargin
  }

  // ---- span-tier oracle fragments (single-sourced: p_incr_span and the
  // ---- complete-membrane capstone replay the SAME hot-set build and
  // ---- token cut — the ivfCellCtesFor discipline) ----

  /** Hot token 3-grams of CTE `src` (doc_id, text) → `{p}hot` (ngram). */
  private def spanHotCte(p: String, src: String, minDocs: Int): String =
    s"""${p}t1 AS (SELECT doc_id, string_split(text, ' ') AS t FROM $src),
       |${p}g1 AS (
       |  SELECT doc_id, t[u.i]||' '||t[u.i+1]||' '||t[u.i+2] AS ngram
       |  FROM ${p}t1
       |  CROSS JOIN LATERAL (SELECT unnest(range(1, len(t) - 1)) AS i) u
       |  WHERE len(t) >= 3
       |), ${p}hot AS (
       |  SELECT ngram FROM ${p}g1 GROUP BY ngram
       |  HAVING count(DISTINCT doc_id) >= $minDocs
       |)""".stripMargin

  /** Covered-start join of CTE `docSrc` (doc_id, text) against a hot-set
    * CTE → `{p}t2` (doc_id, t) and `{p}j` (doc_id, t, starts). */
  private def spanCoverCtes(p: String, docSrc: String, hotCte: String): String =
    s"""${p}t2 AS (SELECT doc_id, string_split(text, ' ') AS t FROM $docSrc),
       |${p}g2 AS (
       |  SELECT doc_id, u.i - 1 AS s0,
       |    t[u.i]||' '||t[u.i+1]||' '||t[u.i+2] AS ngram
       |  FROM ${p}t2
       |  CROSS JOIN LATERAL (SELECT unnest(range(1, len(t) - 1)) AS i) u
       |  WHERE len(t) >= 3
       |), ${p}st AS (
       |  SELECT doc_id, list(DISTINCT s0) AS starts
       |  FROM ${p}g2 JOIN $hotCte USING (ngram) GROUP BY doc_id
       |), ${p}j AS (
       |  SELECT ${p}t2.doc_id, ${p}t2.t,
       |    CASE WHEN ${p}st.starts IS NULL THEN [] ELSE ${p}st.starts END AS starts
       |  FROM ${p}t2 LEFT JOIN ${p}st USING (doc_id)
       |)""".stripMargin

  /** Kept-token list over a `{p}j` row's (t, starts) at n = 3 (the cut
    * of Dedup.stripSeenSpans / removeRepeatedSpans). */
  private val spanKept3 =
    """list_transform(
      |      list_filter(range(1, len(t) + 1),
      |        i -> len(list_filter(starts, s -> s <= i - 1 AND i - 1 < s + 3)) = 0),
      |      i -> t[i])""".stripMargin

  /** Dedup.canonicalText in the DuckDB dialect (RE2-identical patterns;
    * the p_norm_dedup oracle states the same expression inline). */
  private def canonSql(x: String): String =
    s"trim(regexp_replace(regexp_replace(lower($x), " +
      "'[^\\p{L}\\p{Nd} ]+', ' ', 'g'), ' +', ' ', 'g'))"

  /** UrlOps.normalize in the DuckDB dialect over a SQL expression `u`
    * (single-sourced: p_url_normalize, p_url_dedup and the zeroth-tier
    * gate row all replay the SAME canonicalization chain). */
  private def normUrlSql(u: String): String =
    s"""lower(regexp_extract($u, '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1)) ||
       |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
       |        regexp_replace($u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', ''),
       |        '#.*$$', ''),
       |        '(utm_[A-Za-z]+|fbclid|gclid)=[^&#]*&?', '', 'g'),
       |        '[?&]$$', ''),
       |        '/$$', '')""".stripMargin

  /** One day of the fused crawl gate as a CTE chain (= the two-stage
    * oracle shape of `p_incr_crawl`, parameterized so two days can run
    * in one query): gates batch CTE `batchCte` (doc_id, text, lang)
    * against the prior key CTE `keysCte` (key) and prior signature CTE
    * `sigsCte` (id, mh0..mh{n-1}), emitting `{p}_kept` (doc_id, lang).
    * Requires `sigKeyCtes(p, batchCte, NumHashes)` emitted beforehand
    * for the same prefix (provides {p}_key / {p}_sig). `canonKeysCte`
    * (a (key) CTE of md5(canonicalText) keys) inserts the NORMALIZED
    * tier between the signature-key and banded stages, mirroring
    * `Dedup.incrementalCrawlGate(priorCanonKeys = …)`: within-batch
    * dedup on the canonical key + NOT IN the snapshot's canonical
    * keys. */
  private def crawlGateCtes(p: String, batchCte: String, keysCte: String,
      sigsCte: String, canonKeysCte: Option[String] = None): String = {
    val r = NumHashes / Bands
    val bandKeys = (0 until Bands).map { b =>
      val slots = (0 until r).map(j => s"CAST(mh${b * r + j} AS VARCHAR)")
      s"(SELECT $b AS band, md5(${slots.mkString("concat(", ", '_', ", ")")}) AS key)"
    }.mkString(" UNION ALL ")
    val agreeSum = (0 until NumHashes)
      .map(k => s"(CASE WHEN bs.mh$k = ps.mh$k THEN 1 ELSE 0 END)").mkString(" + ")
    val s1 =
      s"""${p}_s1 AS (
         |  SELECT doc_id, lang FROM (
         |    SELECT b.doc_id, b.lang, k.key,
         |      row_number() OVER (PARTITION BY k.key ORDER BY b.doc_id) AS rn
         |    FROM $batchCte b JOIN ${p}_key k ON k.id = b.doc_id)
         |  WHERE rn = 1 AND key NOT IN (SELECT key FROM $keysCte)
         |)""".stripMargin
    // the normalized tier re-reads the batch text for its canonical key
    // (the Scala side computes it map-side on the survivors' own rows)
    val (norm, surv) = canonKeysCte match {
      case Some(ck) =>
        (s""", ${p}_s2 AS (
           |  SELECT doc_id, lang FROM (
           |    SELECT s.doc_id, s.lang, md5(${canonSql("b.text")}) AS ck,
           |      row_number() OVER (PARTITION BY md5(${canonSql("b.text")})
           |        ORDER BY s.doc_id) AS rn
           |    FROM ${p}_s1 s JOIN $batchCte b ON b.doc_id = s.doc_id)
           |  WHERE rn = 1 AND ck NOT IN (SELECT key FROM $ck)
           |)""".stripMargin, s"${p}_s2")
      case None => ("", s"${p}_s1")
    }
    s"""$s1$norm, ${p}_s1_buckets AS (
       |  SELECT id, bk.band, bk.key
       |  FROM (SELECT g.* FROM ${p}_sig g
       |        JOIN $surv ON $surv.doc_id = g.id) s1g,
       |    LATERAL ($bandKeys) bk
       |  QUALIFY count(*) OVER (PARTITION BY bk.band, bk.key) <= $MaxBucket
       |), ${p}_p_buckets AS (
       |  SELECT id, bk.band, bk.key FROM $sigsCte, LATERAL ($bandKeys) bk
       |  QUALIFY count(*) OVER (PARTITION BY bk.band, bk.key) <= $MaxBucket
       |), ${p}_flagged AS (
       |  SELECT DISTINCT c.bid FROM (
       |    SELECT DISTINCT b.id AS bid, p2.id AS pid
       |    FROM ${p}_s1_buckets b JOIN ${p}_p_buckets p2
       |      ON b.band = p2.band AND b.key = p2.key) c
       |  JOIN ${p}_sig bs ON bs.id = c.bid
       |  JOIN $sigsCte ps ON ps.id = c.pid
       |  WHERE CAST($agreeSum AS DOUBLE) / $NumHashes >= 0.8
       |), ${p}_kept AS (
       |  SELECT doc_id, lang FROM $surv
       |  WHERE doc_id NOT IN (SELECT bid FROM ${p}_flagged)
       |)""".stripMargin
  }

  /** One day's OUTPUT stage as a CTE chain (the p_daily_pipeline shape,
    * parameterized so several days can ship in one query): takes
    * `{p}_kept` (doc_id, lang) + the day's batch CTE (for text), applies
    * the per-language token budget window, the byte-packing cumsum, and
    * emits `{p}_ship` (shard, text) — the rows whose member checksums
    * the final select aggregates per shard. */
  private def shipCtes(p: String, batchCte: String, salt: String): String =
    s"""${p}_keptx AS (
       |  SELECT k.doc_id, k.lang, b.text
       |  FROM ${p}_kept k JOIN $batchCte b ON b.doc_id = k.doc_id
       |), ${shipFromKeptx(p, salt)}""".stripMargin

  /** The budget→pack→ship tail of [[shipCtes]] over an EXISTING
    * `{p}_keptx` (doc_id, lang, text) CTE — split out so rows whose
    * shipped text is not the batch text (the paragraph-stripped
    * capstone) replay the same chain instead of re-inlining it. */
  private def shipFromKeptx(p: String, salt: String): String =
    s"""${p}_bud AS (
       |  SELECT doc_id, text,
       |    sum(len(string_split(text, ' '))) OVER (
       |      PARTITION BY lang ORDER BY doc_id) AS cum_tokens,
       |    CASE WHEN lang = 'en' THEN 20000 ELSE 8000 END AS budget
       |  FROM ${p}_keptx
       |), ${p}_pc AS (
       |  SELECT doc_id, text, n_bytes,
       |    sum(n_bytes) OVER (ORDER BY h, doc_id) AS cum
       |  FROM (SELECT doc_id, text, strlen(text) AS n_bytes,
       |          ${h60(s"concat(CAST(doc_id AS VARCHAR), '_$salt')")} AS h
       |        FROM ${p}_bud WHERE cum_tokens <= budget)
       |), ${p}_ship AS (
       |  SELECT CAST(floor((cum - n_bytes) / 16384.0) AS BIGINT) AS shard,
       |    text
       |  FROM ${p}_pc
       |)""".stripMargin

  /** The per-shard member aggregate over a `{p}_sh` CTE — the final
    * checksum shape every tar-stage oracle row shares. */
  private def shipSelect(p: String, day: Int): String =
    s"""SELECT $day AS day, shard, count(*) AS n_members,
       |  CAST(sum(strlen(text)) AS BIGINT) AS sum_bytes,
       |  CAST(sum(CAST(concat('0x', substr(md5(text), 1, 12)) AS BIGINT))
       |    AS BIGINT) AS sum_h
       |FROM ${p}_ship GROUP BY shard""".stripMargin

  /** Mirror of `Dedup.retainSignatureGenerations`: per id keep the
    * lexicographic-max (g, mh0..mh{n−1}) row (row_number over the full
    * descending order = Spark's max(struct)), drop ids last stamped
    * before `minGen`. `src` is a (id, mh0.., g) CTE. */
  private def retainedSigCte(name: String, src: String, minGen: Long,
      numHashes: Int): String = {
    val mh = (0 until numHashes).map(k => s"mh$k").mkString(", ")
    val ord = ("g DESC" +: (0 until numHashes).map(k => s"mh$k DESC"))
      .mkString(", ")
    s"""$name AS (
       |  SELECT id, $mh FROM (
       |    SELECT id, $mh, g,
       |      row_number() OVER (PARTITION BY id ORDER BY $ord) AS rn
       |    FROM $src) WHERE rn = 1 AND g >= $minGen
       |)""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "p_exact_dedup" ->
      """WITH base AS (
        |  SELECT doc_id, text, lang FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000, text, lang FROM documents WHERE doc_id < 100
        |), kept AS (
        |  SELECT doc_id, lang FROM (
        |    SELECT doc_id, lang,
        |      row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |    FROM base) WHERE rn = 1
        |)
        |SELECT lang, count(*) AS n_unique, CAST(sum(doc_id) AS BIGINT) AS sum_id
        |FROM kept GROUP BY lang ORDER BY lang""".stripMargin,

    "p_incr_dedup" ->
      """WITH prior AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0
        |), batch AS (
        |  SELECT doc_id, text, lang FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT doc_id + 20000, text, lang FROM documents
        |  WHERE doc_id % 3 <> 0 AND doc_id < 200
        |), dedup AS (
        |  SELECT doc_id, text, lang FROM (
        |    SELECT doc_id, text, lang,
        |      row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |    FROM batch) WHERE rn = 1
        |), kept AS (
        |  SELECT d.doc_id, d.lang FROM dedup d
        |  WHERE NOT EXISTS (SELECT 1 FROM prior p WHERE md5(p.text) = md5(d.text))
        |)
        |SELECT lang, count(*) AS n_new, CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM kept GROUP BY lang ORDER BY lang""".stripMargin,

    "p_snapshot_loop" ->
      """WITH d AS (SELECT doc_id, text, lang FROM documents),
        |prior AS (SELECT * FROM d WHERE doc_id % 3 = 1),
        |day1 AS (
        |  SELECT doc_id, text, lang FROM d WHERE doc_id % 3 = 2
        |  UNION ALL
        |  SELECT doc_id + 20000, text, lang FROM prior WHERE doc_id < 150
        |), keys0 AS (SELECT DISTINCT md5(text) AS k FROM prior),
        |dedup1 AS (
        |  SELECT doc_id, text, lang FROM (
        |    SELECT doc_id, text, lang,
        |      row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |    FROM day1) WHERE rn = 1
        |), kept1 AS (
        |  SELECT * FROM dedup1 WHERE md5(text) NOT IN (SELECT k FROM keys0)
        |), keys1 AS (
        |  SELECT k FROM keys0 UNION ALL SELECT md5(text) FROM kept1
        |), day2 AS (
        |  SELECT doc_id, text, lang FROM d WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT doc_id + 40000, text, lang FROM d
        |  WHERE doc_id % 3 = 2 AND doc_id < 150
        |  UNION ALL
        |  SELECT doc_id + 60000, text, lang FROM prior
        |  WHERE doc_id >= 150 AND doc_id < 250
        |), dedup2 AS (
        |  SELECT doc_id, text, lang FROM (
        |    SELECT doc_id, text, lang,
        |      row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |    FROM day2) WHERE rn = 1
        |), kept2 AS (
        |  SELECT * FROM dedup2 WHERE md5(text) NOT IN (SELECT k FROM keys1)
        |), un AS (
        |  SELECT 1 AS day, lang, doc_id FROM kept1
        |  UNION ALL SELECT 2 AS day, lang, doc_id FROM kept2
        |)
        |SELECT day, lang, count(*) AS n_new, CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM un GROUP BY day, lang ORDER BY day, lang""".stripMargin,

    "p_snapshot_ttl" ->
      """WITH d AS (SELECT doc_id, text, lang FROM documents),
        |prior AS (SELECT * FROM d WHERE doc_id % 3 = 1),
        |day1 AS (
        |  SELECT doc_id, text, lang FROM d WHERE doc_id % 3 = 2
        |  UNION ALL
        |  SELECT doc_id + 20000, text, lang FROM prior WHERE doc_id < 150
        |), g0 AS (SELECT DISTINCT md5(text) AS k, 0 AS g FROM prior),
        |dedup1 AS (
        |  SELECT doc_id, text, lang FROM (
        |    SELECT doc_id, text, lang,
        |      row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |    FROM day1) WHERE rn = 1
        |), kept1 AS (
        |  SELECT * FROM dedup1 WHERE md5(text) NOT IN (
        |    SELECT k FROM (SELECT k, max(g) AS g FROM g0 GROUP BY k)
        |    WHERE g >= 0)
        |), g1 AS (
        |  SELECT k, g FROM g0 UNION ALL SELECT md5(text), 1 FROM kept1
        |), day2 AS (
        |  SELECT doc_id, text, lang FROM d WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT doc_id + 40000, text, lang FROM prior
        |  WHERE doc_id >= 150 AND doc_id < 250
        |  UNION ALL
        |  SELECT doc_id + 60000, text, lang FROM d
        |  WHERE doc_id % 3 = 2 AND doc_id < 150
        |), dedup2 AS (
        |  SELECT doc_id, text, lang FROM (
        |    SELECT doc_id, text, lang,
        |      row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |    FROM day2) WHERE rn = 1
        |), kept2 AS (
        |  SELECT * FROM dedup2 WHERE md5(text) NOT IN (
        |    SELECT k FROM (SELECT k, max(g) AS g FROM g1 GROUP BY k)
        |    WHERE g >= 1)
        |), un AS (
        |  SELECT 1 AS day, lang, doc_id FROM kept1
        |  UNION ALL SELECT 2 AS day, lang, doc_id FROM kept2
        |)
        |SELECT day, lang, count(*) AS n_new, CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM un GROUP BY day, lang ORDER BY day, lang""".stripMargin,

    "p_neardup_loop" ->
      s"""WITH d AS (SELECT doc_id, text, lang FROM documents),
         |prior AS (SELECT doc_id, text, lang FROM d WHERE doc_id % 3 = 1),
         |day1 AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id < 150 THEN text || ' ' || text ELSE text END AS text,
         |    lang
         |  FROM d WHERE doc_id % 3 = 2
         |  UNION ALL
         |  SELECT doc_id + 20000, text, lang FROM prior WHERE doc_id < 150
         |), ${sigKeyCtes("p", "prior", NumHashes)},
         |${sigKeyCtes("d1", "day1", NumHashes)},
         |kept1 AS (
         |  SELECT doc_id, lang FROM (
         |    SELECT b.doc_id, b.lang, k.key,
         |      row_number() OVER (PARTITION BY k.key ORDER BY b.doc_id) AS rn
         |    FROM day1 b JOIN d1_key k ON k.id = b.doc_id)
         |  WHERE rn = 1 AND key NOT IN (SELECT key FROM p_key)
         |), keys1 AS (
         |  SELECT key FROM p_key
         |  UNION ALL
         |  SELECT k.key FROM d1_key k JOIN kept1 ON kept1.doc_id = k.id
         |), day2 AS (
         |  SELECT doc_id, text, lang FROM d WHERE doc_id % 3 = 0
         |  UNION ALL
         |  SELECT doc_id + 40000, text || ' ' || text || ' ' || text, lang
         |  FROM d WHERE doc_id % 3 = 2 AND doc_id < 150
         |  UNION ALL
         |  SELECT doc_id + 60000, text, lang FROM prior
         |  WHERE doc_id >= 150 AND doc_id < 250
         |), ${sigKeyCtes("d2", "day2", NumHashes)},
         |kept2 AS (
         |  SELECT doc_id, lang FROM (
         |    SELECT b.doc_id, b.lang, k.key,
         |      row_number() OVER (PARTITION BY k.key ORDER BY b.doc_id) AS rn
         |    FROM day2 b JOIN d2_key k ON k.id = b.doc_id)
         |  WHERE rn = 1 AND key NOT IN (SELECT key FROM keys1)
         |), un AS (
         |  SELECT 1 AS day, lang, doc_id FROM kept1
         |  UNION ALL SELECT 2 AS day, lang, doc_id FROM kept2
         |)
         |SELECT day, lang, count(*) AS n_new, CAST(sum(doc_id) AS BIGINT) AS sum_ids
         |FROM un GROUP BY day, lang ORDER BY day, lang""".stripMargin,

    "p_crawl_loop" ->
      s"""WITH d AS (SELECT doc_id, text, lang FROM documents),
         |prior AS (SELECT doc_id, text, lang FROM d WHERE doc_id % 3 = 1),
         |day1 AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id < 150 THEN text || ' ' || text ELSE text END AS text,
         |    lang
         |  FROM d WHERE doc_id % 3 = 2
         |  UNION ALL
         |  SELECT doc_id + 20000, text, lang FROM prior WHERE doc_id < 150
         |), ${sigKeyCtes("p", "prior", NumHashes)},
         |${sigKeyCtes("d1", "day1", NumHashes)},
         |${crawlGateCtes("d1", "day1", "p_key", "p_sig")},
         |keys1 AS (
         |  SELECT key FROM p_key
         |  UNION ALL
         |  SELECT k.key FROM d1_key k JOIN d1_kept kk ON kk.doc_id = k.id
         |), sigs1 AS (
         |  SELECT * FROM p_sig
         |  UNION ALL
         |  SELECT g.* FROM d1_sig g JOIN d1_kept kk ON kk.doc_id = g.id
         |), day2 AS (
         |  SELECT doc_id, text, lang FROM d WHERE doc_id % 3 = 0
         |  UNION ALL
         |  SELECT doc_id + 40000, text || ' ' || text, lang
         |  FROM d WHERE doc_id % 3 = 2 AND doc_id < 150
         |  UNION ALL
         |  SELECT doc_id + 50000, text || ' ' || text || ' ' || text, lang
         |  FROM d WHERE doc_id % 3 = 2 AND doc_id < 150
         |  UNION ALL
         |  SELECT doc_id + 60000, text, lang FROM prior
         |  WHERE doc_id >= 150 AND doc_id < 250
         |  UNION ALL
         |  SELECT doc_id + 70000,
         |    text || ' sur1 sur2 sur3 sur4 sur5 sur6 sur7 sur8', lang
         |  FROM d WHERE doc_id % 3 = 2 AND doc_id >= 150 AND doc_id < 250
         |), ${sigKeyCtes("d2", "day2", NumHashes)},
         |${crawlGateCtes("d2", "day2", "keys1", "sigs1")},
         |un AS (
         |  SELECT 1 AS day, lang, doc_id FROM d1_kept
         |  UNION ALL SELECT 2 AS day, lang, doc_id FROM d2_kept
         |)
         |SELECT day, lang, count(*) AS n_new, CAST(sum(doc_id) AS BIGINT) AS sum_ids
         |FROM un GROUP BY day, lang ORDER BY day, lang""".stripMargin,

    "p_crawl_ttl" ->
      s"""WITH d AS (SELECT doc_id, text, lang FROM documents),
         |prior AS (SELECT doc_id, text, lang FROM d WHERE doc_id % 3 = 1),
         |day1 AS (
         |  SELECT doc_id, text, lang FROM d WHERE doc_id % 3 = 2
         |  UNION ALL
         |  SELECT doc_id + 20000, text, lang FROM prior WHERE doc_id < 150
         |), ${sigKeyCtes("p", "prior", NumHashes)},
         |gk0 AS (SELECT key, 0 AS g FROM p_key),
         |gs0 AS (SELECT *, 0 AS g FROM p_sig),
         |rk0 AS (
         |  SELECT key FROM (SELECT key, max(g) AS g FROM gk0 GROUP BY key)
         |  WHERE g >= 0
         |), ${retainedSigCte("rs0", "gs0", 0L, NumHashes)},
         |${sigKeyCtes("d1", "day1", NumHashes)},
         |${crawlGateCtes("d1", "day1", "rk0", "rs0")},
         |gk1 AS (
         |  SELECT key, g FROM gk0
         |  UNION ALL
         |  SELECT k.key, 1 FROM d1_key k JOIN d1_kept kk ON kk.doc_id = k.id
         |), gs1 AS (
         |  SELECT * FROM gs0
         |  UNION ALL
         |  SELECT sg.*, 1 FROM d1_sig sg JOIN d1_kept kk ON kk.doc_id = sg.id
         |), rk1 AS (
         |  SELECT key FROM (SELECT key, max(g) AS g FROM gk1 GROUP BY key)
         |  WHERE g >= 1
         |), ${retainedSigCte("rs1", "gs1", 1L, NumHashes)},
         |day2 AS (
         |  SELECT doc_id, text, lang FROM d WHERE doc_id % 3 = 0
         |  UNION ALL
         |  SELECT doc_id + 40000, text, lang FROM prior
         |  WHERE doc_id >= 150 AND doc_id < 250
         |  UNION ALL
         |  SELECT doc_id + 50000,
         |    text || ' sur1 sur2 sur3 sur4 sur5 sur6 sur7 sur8', lang
         |  FROM prior WHERE doc_id >= 250 AND doc_id < 350
         |  UNION ALL
         |  SELECT doc_id + 60000, text, lang FROM d
         |  WHERE doc_id % 3 = 2 AND doc_id < 150
         |  UNION ALL
         |  SELECT doc_id + 70000,
         |    text || ' sur1 sur2 sur3 sur4 sur5 sur6 sur7 sur8', lang
         |  FROM d WHERE doc_id % 3 = 2 AND doc_id >= 150 AND doc_id < 250
         |), ${sigKeyCtes("d2", "day2", NumHashes)},
         |${crawlGateCtes("d2", "day2", "rk1", "rs1")},
         |un AS (
         |  SELECT 1 AS day, lang, doc_id FROM d1_kept
         |  UNION ALL SELECT 2 AS day, lang, doc_id FROM d2_kept
         |)
         |SELECT day, lang, count(*) AS n_new, CAST(sum(doc_id) AS BIGINT) AS sum_ids
         |FROM un GROUP BY day, lang ORDER BY day, lang""".stripMargin,

    "p_crawl_norm_ttl" ->
      s"""WITH d AS (SELECT doc_id, text, lang FROM documents),
         |prior AS (SELECT doc_id, text, lang FROM d WHERE doc_id % 3 = 1),
         |day1 AS (
         |  SELECT doc_id, text, lang FROM d WHERE doc_id % 3 = 2
         |  UNION ALL
         |  SELECT doc_id + 20000, text, lang FROM prior WHERE doc_id < 150
         |), ${sigKeyCtes("p", "prior", NumHashes)},
         |gk0 AS (SELECT key, 0 AS g FROM p_key),
         |gs0 AS (SELECT *, 0 AS g FROM p_sig),
         |gc0 AS (SELECT md5(${canonSql("text")}) AS key, 0 AS g FROM prior),
         |rk0 AS (
         |  SELECT key FROM (SELECT key, max(g) AS g FROM gk0 GROUP BY key)
         |  WHERE g >= 0
         |), ${retainedSigCte("rs0", "gs0", 0L, NumHashes)},
         |rc0 AS (
         |  SELECT key FROM (SELECT key, max(g) AS g FROM gc0 GROUP BY key)
         |  WHERE g >= 0
         |), ${sigKeyCtes("d1", "day1", NumHashes)},
         |${crawlGateCtes("d1", "day1", "rk0", "rs0", Some("rc0"))},
         |gk1 AS (
         |  SELECT key, g FROM gk0
         |  UNION ALL
         |  SELECT k.key, 1 FROM d1_key k JOIN d1_kept kk ON kk.doc_id = k.id
         |), gs1 AS (
         |  SELECT * FROM gs0
         |  UNION ALL
         |  SELECT sg.*, 1 FROM d1_sig sg JOIN d1_kept kk ON kk.doc_id = sg.id
         |), gc1 AS (
         |  SELECT key, g FROM gc0
         |  UNION ALL
         |  SELECT md5(${canonSql("b.text")}), 1
         |  FROM d1_kept kk JOIN day1 b ON b.doc_id = kk.doc_id
         |), rk1 AS (
         |  SELECT key FROM (SELECT key, max(g) AS g FROM gk1 GROUP BY key)
         |  WHERE g >= 1
         |), ${retainedSigCte("rs1", "gs1", 1L, NumHashes)},
         |rc1 AS (
         |  SELECT key FROM (SELECT key, max(g) AS g FROM gc1 GROUP BY key)
         |  WHERE g >= 1
         |), day2 AS (
         |  SELECT doc_id, text, lang FROM d WHERE doc_id % 3 = 0
         |  UNION ALL
         |  SELECT doc_id + 40000, '  ' || upper(text) || '  !! ', lang
         |  FROM prior WHERE doc_id >= 150 AND doc_id < 250
         |  UNION ALL
         |  SELECT doc_id + 60000, text, lang FROM d
         |  WHERE doc_id % 3 = 2 AND doc_id < 150
         |  UNION ALL
         |  SELECT doc_id + 70000, '  ' || upper(text) || '  !! ', lang
         |  FROM d WHERE doc_id % 3 = 2 AND doc_id >= 150 AND doc_id < 250
         |), ${sigKeyCtes("d2", "day2", NumHashes)},
         |${crawlGateCtes("d2", "day2", "rk1", "rs1", Some("rc1"))},
         |un AS (
         |  SELECT 1 AS day, lang, doc_id FROM d1_kept
         |  UNION ALL SELECT 2 AS day, lang, doc_id FROM d2_kept
         |)
         |SELECT day, lang, count(*) AS n_new, CAST(sum(doc_id) AS BIGINT) AS sum_ids
         |FROM un GROUP BY day, lang ORDER BY day, lang""".stripMargin,

    "p_crawl_norm" ->
      s"""WITH d AS (SELECT doc_id, text, lang FROM documents),
         |prior AS (SELECT doc_id, text, lang FROM d WHERE doc_id % 3 = 1),
         |batch AS (
         |  SELECT doc_id, text, lang FROM d WHERE doc_id % 3 = 0
         |  UNION ALL
         |  SELECT doc_id + 20000, '  ' || upper(text) || '  !! ', lang
         |  FROM prior WHERE doc_id < 150
         |  UNION ALL
         |  SELECT doc_id + 40000,
         |    text || ' sur1 sur2 sur3 sur4 sur5 sur6 sur7 sur8', lang
         |  FROM prior WHERE doc_id >= 150 AND doc_id < 250
         |  UNION ALL
         |  SELECT doc_id + 60000, text, lang FROM prior
         |  WHERE doc_id >= 250 AND doc_id < 350
         |  UNION ALL
         |  SELECT doc_id + 80000, '  ' || upper(text) || '  !! ', lang
         |  FROM d WHERE doc_id % 3 = 0 AND doc_id < 150
         |), ${sigKeyCtes("p", "prior", NumHashes)},
         |p_ck AS (SELECT md5(${canonSql("text")}) AS key FROM prior),
         |${sigKeyCtes("b", "batch", NumHashes)},
         |${crawlGateCtes("b", "batch", "p_key", "p_sig", Some("p_ck"))}
         |SELECT lang, count(*) AS n_new, CAST(sum(doc_id) AS BIGINT) AS sum_ids
         |FROM b_kept GROUP BY lang ORDER BY lang""".stripMargin,

    "p_incr_neardup" ->
      s"""WITH prior AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id < 200 THEN text || ' ' || text ELSE text END AS text
         |  FROM documents WHERE doc_id % 3 <> 0
         |), batch AS (
         |  SELECT doc_id, text, lang FROM documents WHERE doc_id % 3 = 0
         |  UNION ALL
         |  SELECT doc_id + 20000, text || ' ' || text || ' ' || text, lang
         |  FROM documents WHERE doc_id % 3 <> 0 AND doc_id < 200
         |  UNION ALL
         |  SELECT doc_id + 40000, text, lang FROM documents
         |  WHERE doc_id % 3 <> 0 AND doc_id >= 200 AND doc_id < 300
         |), ${sigKeyCtes("b", "batch", 16)}, ${sigKeyCtes("p", "prior", 16)},
         |kept AS (
         |  SELECT doc_id, lang FROM (
         |    SELECT b.doc_id, b.lang, k.key,
         |      row_number() OVER (PARTITION BY k.key ORDER BY b.doc_id) AS rn
         |    FROM batch b JOIN b_key k ON k.id = b.doc_id)
         |  WHERE rn = 1 AND key NOT IN (SELECT key FROM p_key)
         |)
         |SELECT lang, count(*) AS n_new, CAST(sum(doc_id) AS BIGINT) AS sum_ids
         |FROM kept GROUP BY lang ORDER BY lang""".stripMargin,

    "p_incr_neardup_banded" -> {
      val r = NumHashes / Bands
      def bandKeys(sig: String) = (0 until Bands).map { b =>
        val slots = (0 until r).map(j => s"CAST(mh${b * r + j} AS VARCHAR)")
        s"(SELECT $b AS band, md5(${slots.mkString("concat(", ", '_', ", ")")}) AS key)"
      }.mkString(" UNION ALL ")
      val agreeSum = (0 until NumHashes)
        .map(k => s"(CASE WHEN bs.mh$k = ps.mh$k THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH prior AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0
         |), batch AS (
         |  SELECT doc_id, text, lang FROM documents WHERE doc_id % 3 = 0
         |  UNION ALL
         |  SELECT doc_id + 20000,
         |    text || ' sur1 sur2 sur3 sur4 sur5 sur6 sur7 sur8', lang
         |  FROM documents WHERE doc_id % 3 <> 0 AND doc_id < 200
         |  UNION ALL
         |  SELECT doc_id + 40000, text, lang FROM documents
         |  WHERE doc_id % 3 <> 0 AND doc_id >= 200 AND doc_id < 300
         |), ${sigKeyCtes("b", "batch", NumHashes)}, ${sigKeyCtes("p", "prior", NumHashes)},
         |b_buckets AS (
         |  SELECT id, bk.band, bk.key FROM b_sig, LATERAL (${bandKeys("b")}) bk
         |  QUALIFY count(*) OVER (PARTITION BY bk.band, bk.key) <= $MaxBucket
         |), p_buckets AS (
         |  SELECT id, bk.band, bk.key FROM p_sig, LATERAL (${bandKeys("p")}) bk
         |  QUALIFY count(*) OVER (PARTITION BY bk.band, bk.key) <= $MaxBucket
         |), cand AS (
         |  SELECT DISTINCT b.id AS bid, p.id AS pid
         |  FROM b_buckets b JOIN p_buckets p ON b.band = p.band AND b.key = p.key
         |), flagged AS (
         |  SELECT DISTINCT cand.bid FROM cand
         |  JOIN b_sig bs ON bs.id = cand.bid
         |  JOIN p_sig ps ON ps.id = cand.pid
         |  WHERE CAST($agreeSum AS DOUBLE) / $NumHashes >= 0.8
         |), kept AS (
         |  SELECT doc_id, lang FROM batch
         |  WHERE doc_id NOT IN (SELECT bid FROM flagged)
         |)
         |SELECT lang, count(*) AS n_new, CAST(sum(doc_id) AS BIGINT) AS sum_ids
         |FROM kept GROUP BY lang ORDER BY lang""".stripMargin
    },

    // both operating points replay the SAME signature CTEs — the
    // oracle's statement of "one persisted snapshot, two bandings"
    "p_neardup_reband" -> {
      def bandKeysFor(bands: Int): String = {
        val r = NumHashes / bands
        (0 until bands).map { b =>
          val slots = (0 until r).map(j => s"CAST(mh${b * r + j} AS VARCHAR)")
          s"(SELECT $b AS band, md5(${slots.mkString("concat(", ", '_', ", ")")}) AS key)"
        }.mkString(" UNION ALL ")
      }
      def buckets(name: String, sig: String, bands: Int): String =
        s"""$name AS (
           |  SELECT id, bk.band, bk.key FROM $sig, LATERAL (${bandKeysFor(bands)}) bk
           |  QUALIFY count(*) OVER (PARTITION BY bk.band, bk.key) <= $MaxBucket
           |)""".stripMargin
      val agreeSum = (0 until NumHashes)
        .map(k => s"(CASE WHEN bs.mh$k = ps.mh$k THEN 1 ELSE 0 END)")
        .mkString(" + ")
      def flagged(name: String, bb: String, pb: String): String =
        s"""$name AS (
           |  SELECT DISTINCT cand.bid FROM (
           |    SELECT DISTINCT b.id AS bid, p.id AS pid
           |    FROM $bb b JOIN $pb p ON b.band = p.band AND b.key = p.key
           |  ) cand
           |  JOIN b_sig bs ON bs.id = cand.bid
           |  JOIN p_sig ps ON ps.id = cand.pid
           |  WHERE CAST($agreeSum AS DOUBLE) / $NumHashes >= 0.8
           |)""".stripMargin
      s"""WITH prior AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0
         |), batch AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
         |  UNION ALL
         |  SELECT doc_id + 20000,
         |    text || ' sur1 sur2 sur3 sur4 sur5 sur6 sur7 sur8'
         |  FROM documents WHERE doc_id % 3 <> 0 AND doc_id < 200
         |), ${sigKeyCtes("b", "batch", NumHashes)}, ${sigKeyCtes("p", "prior", NumHashes)},
         |${buckets("bs1", "b_sig", 1)}, ${buckets("ps1", "p_sig", 1)},
         |${buckets("bs8", "b_sig", 8)}, ${buckets("ps8", "p_sig", 8)},
         |${flagged("f1", "bs1", "ps1")}, ${flagged("f8", "bs8", "ps8")},
         |un AS (
         |  SELECT 'stale' AS path, doc_id FROM batch
         |  WHERE doc_id NOT IN (SELECT bid FROM f1)
         |  UNION ALL
         |  SELECT 'rebanded', doc_id FROM batch
         |  WHERE doc_id NOT IN (SELECT bid FROM f8)
         |)
         |SELECT path, CAST(floor(doc_id / 20000) AS BIGINT) AS class,
         |  count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS sum_ids
         |FROM un GROUP BY path, class ORDER BY path, class""".stripMargin
    },

    "p_incr_crawl" ->
      s"""WITH prior AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id < 200 THEN text || ' ' || text ELSE text END AS text
         |  FROM documents WHERE doc_id % 3 <> 0
         |), batch AS (
         |  SELECT doc_id, text, lang FROM documents WHERE doc_id % 3 = 0
         |  UNION ALL
         |  SELECT doc_id + 20000, text || ' ' || text || ' ' || text, lang
         |  FROM documents WHERE doc_id % 3 <> 0 AND doc_id < 200
         |  UNION ALL
         |  SELECT doc_id + 40000, text, lang FROM documents
         |  WHERE doc_id % 3 <> 0 AND doc_id >= 200 AND doc_id < 300
         |  UNION ALL
         |  SELECT doc_id + 60000,
         |    text || ' sur1 sur2 sur3 sur4 sur5 sur6 sur7 sur8', lang
         |  FROM documents WHERE doc_id % 3 <> 0 AND doc_id >= 300 AND doc_id < 400
         |), ${sigKeyCtes("b", "batch", NumHashes)}, ${sigKeyCtes("p", "prior", NumHashes)},
         |${crawlGateCtes("b", "batch", "p_key", "p_sig")}
         |SELECT lang, count(*) AS n_new, CAST(sum(doc_id) AS BIGINT) AS sum_ids
         |FROM b_kept GROUP BY lang ORDER BY lang""".stripMargin,

    "p_tar_files" ->
      """WITH m AS (
        |  SELECT doc_id % 8 AS shard,
        |    strlen(text) AS n_bytes,
        |    CAST(concat('0x', substr(md5(text), 1, 12)) AS BIGINT) AS h
        |  FROM documents
        |)
        |SELECT shard, count(*) AS n_members,
        |  CAST(sum(n_bytes) AS BIGINT) AS sum_bytes,
        |  CAST(sum(h) AS BIGINT) AS sum_h
        |FROM m GROUP BY shard ORDER BY shard""".stripMargin,

    "p_tar_stream" ->
      """WITH m AS (
        |  SELECT doc_id % 8 AS shard,
        |    strlen(text) AS n_bytes,
        |    CAST(concat('0x', substr(md5(text), 1, 12)) AS BIGINT) AS h
        |  FROM documents
        |)
        |SELECT shard, count(*) AS n_members,
        |  CAST(sum(n_bytes) AS BIGINT) AS sum_bytes,
        |  CAST(sum(h) AS BIGINT) AS sum_h
        |FROM m GROUP BY shard ORDER BY shard""".stripMargin,

    "p_tar_samples" ->
      """WITH parts AS (
        |  SELECT doc_id % 4 AS shard, text AS body FROM documents
        |  UNION ALL
        |  SELECT doc_id % 4,
        |    '{"id":' || doc_id || ',"lang":"' || lang || '"}'
        |  FROM documents
        |)
        |SELECT shard, count(*) AS n_members,
        |  CAST(sum(CAST(concat('0x', substr(md5(body), 1, 12)) AS BIGINT))
        |    AS BIGINT) AS sum_h
        |FROM parts WHERE body IS NOT NULL
        |GROUP BY shard ORDER BY shard""".stripMargin,

    "p_tar_fetch" ->
      """WITH parts AS (
        |  SELECT doc_id % 4 AS shard, text AS body FROM documents
        |  WHERE doc_id % 7 = 0
        |  UNION ALL
        |  SELECT doc_id % 4,
        |    '{"id":' || doc_id || ',"lang":"' || lang || '"}'
        |  FROM documents WHERE doc_id % 7 = 0
        |)
        |SELECT shard, count(*) AS n_members,
        |  CAST(sum(CAST(concat('0x', substr(md5(body), 1, 12)) AS BIGINT))
        |    AS BIGINT) AS sum_h
        |FROM parts WHERE body IS NOT NULL
        |GROUP BY shard ORDER BY shard""".stripMargin,

    "p_word_blocklist" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |    ' ' || lower(text) || ' ' AS padded
        |  FROM documents
        |), m AS (
        |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |    CAST(len(list_filter(toks, w ->
        |      list_contains(['slow', 'error'], lower(w))))
        |      + (length(padded) - length(replace(padded, ' group query ', '')))
        |        // length(' group query ') AS BIGINT)
        |      AS n_blocked
        |  FROM t
        |)
        |SELECT doc_id, n_tokens, n_blocked,
        |  CAST(CASE WHEN n_blocked = 0 THEN 1 ELSE 0 END AS INT) AS word_keep
        |FROM m ORDER BY doc_id""".stripMargin,

    "p_daily_pipeline" ->
      s"""WITH d AS (SELECT doc_id, text, lang FROM documents),
         |prior AS (SELECT doc_id, text, lang FROM d WHERE doc_id % 3 = 1),
         |batch AS (
         |  SELECT doc_id, text, lang FROM d WHERE doc_id % 3 <> 1
         |  UNION ALL
         |  SELECT doc_id + 20000, text, lang FROM prior WHERE doc_id < 150
         |  UNION ALL
         |  SELECT doc_id + 40000,
         |    text || ' sur1 sur2 sur3 sur4 sur5 sur6 sur7 sur8', lang
         |  FROM prior WHERE doc_id >= 150 AND doc_id < 250
         |), ${sigKeyCtes("p", "prior", NumHashes)},
         |${sigKeyCtes("b", "batch", NumHashes)},
         |${crawlGateCtes("b", "batch", "p_key", "p_sig")},
         |keptx AS (
         |  SELECT k.doc_id, k.lang, b.text
         |  FROM b_kept k JOIN batch b ON b.doc_id = k.doc_id
         |), bud AS (
         |  SELECT doc_id, text,
         |    sum(len(string_split(text, ' '))) OVER (
         |      PARTITION BY lang ORDER BY doc_id) AS cum_tokens,
         |    CASE WHEN lang = 'en' THEN 20000 ELSE 8000 END AS budget
         |  FROM keptx
         |), chosen AS (
         |  SELECT doc_id, text FROM bud WHERE cum_tokens <= budget
         |), pk AS (
         |  SELECT doc_id, text, strlen(text) AS n_bytes,
         |    ${h60("concat(CAST(doc_id AS VARCHAR), '_daily0')")} AS h
         |  FROM chosen
         |), pc AS (
         |  SELECT doc_id, text, n_bytes,
         |    sum(n_bytes) OVER (ORDER BY h, doc_id) AS cum
         |  FROM pk
         |), sh AS (
         |  SELECT CAST(floor((cum - n_bytes) / 16384.0) AS INT) AS shard, text
         |  FROM pc
         |)
         |SELECT CAST(shard AS BIGINT) AS shard, count(*) AS n_members,
         |  CAST(sum(strlen(text)) AS BIGINT) AS sum_bytes,
         |  CAST(sum(CAST(concat('0x', substr(md5(text), 1, 12)) AS BIGINT))
         |    AS BIGINT) AS sum_h
         |FROM sh GROUP BY shard ORDER BY shard""".stripMargin,

    "p_daily_loop" ->
      s"""WITH d AS (SELECT doc_id, text, lang FROM documents),
         |prior AS (SELECT doc_id, text, lang FROM d WHERE doc_id % 3 = 1),
         |day1 AS (
         |  SELECT doc_id, text, lang FROM d WHERE doc_id % 3 = 2
         |  UNION ALL
         |  SELECT doc_id + 20000, text, lang FROM prior WHERE doc_id < 150
         |), ${sigKeyCtes("p", "prior", NumHashes)},
         |${sigKeyCtes("d1", "day1", NumHashes)},
         |${crawlGateCtes("d1", "day1", "p_key", "p_sig")},
         |keys1 AS (
         |  SELECT key FROM p_key
         |  UNION ALL
         |  SELECT k.key FROM d1_key k JOIN d1_kept kk ON kk.doc_id = k.id
         |), sigs1 AS (
         |  SELECT * FROM p_sig
         |  UNION ALL
         |  SELECT g.* FROM d1_sig g JOIN d1_kept kk ON kk.doc_id = g.id
         |), day2 AS (
         |  SELECT doc_id, text, lang FROM d WHERE doc_id % 3 = 0
         |  UNION ALL
         |  SELECT doc_id + 40000, text, lang FROM d
         |  WHERE doc_id % 3 = 2 AND doc_id < 150
         |  UNION ALL
         |  SELECT doc_id + 60000, text, lang FROM prior
         |  WHERE doc_id >= 150 AND doc_id < 250
         |), ${sigKeyCtes("d2", "day2", NumHashes)},
         |${crawlGateCtes("d2", "day2", "keys1", "sigs1")},
         |${shipCtes("d1", "day1", "dloop1")},
         |${shipCtes("d2", "day2", "dloop2")}
         |${shipSelect("d1", 1)}
         |UNION ALL
         |${shipSelect("d2", 2)}
         |ORDER BY day, shard""".stripMargin,

    "p_daily_loop3" ->
      s"""WITH d AS (SELECT doc_id, text, lang FROM documents),
         |prior AS (SELECT doc_id, text, lang FROM d WHERE doc_id % 3 = 1),
         |day1 AS (
         |  SELECT doc_id, text, lang FROM d WHERE doc_id % 3 = 2
         |  UNION ALL
         |  SELECT doc_id + 20000, text, lang FROM prior WHERE doc_id < 150
         |), ${sigKeyCtes("p", "prior", NumHashes)},
         |gk0 AS (SELECT key, 0 AS g FROM p_key),
         |gs0 AS (SELECT *, 0 AS g FROM p_sig),
         |rk0 AS (
         |  SELECT key FROM (SELECT key, max(g) AS g FROM gk0 GROUP BY key)
         |  WHERE g >= 0
         |), ${retainedSigCte("rs0", "gs0", 0L, NumHashes)},
         |${sigKeyCtes("d1", "day1", NumHashes)},
         |${crawlGateCtes("d1", "day1", "rk0", "rs0")},
         |gk1 AS (
         |  SELECT key, g FROM gk0
         |  UNION ALL
         |  SELECT k.key, 1 FROM d1_key k JOIN d1_kept kk ON kk.doc_id = k.id
         |), gs1 AS (
         |  SELECT * FROM gs0
         |  UNION ALL
         |  SELECT sg.*, 1 FROM d1_sig sg JOIN d1_kept kk ON kk.doc_id = sg.id
         |), rk1 AS (
         |  SELECT key FROM (SELECT key, max(g) AS g FROM gk1 GROUP BY key)
         |  WHERE g >= 1
         |), ${retainedSigCte("rs1", "gs1", 1L, NumHashes)},
         |day2 AS (
         |  SELECT doc_id, text, lang FROM d WHERE doc_id % 3 = 0
         |  UNION ALL
         |  SELECT doc_id + 40000, text, lang FROM d
         |  WHERE doc_id % 3 = 2 AND doc_id < 150
         |  UNION ALL
         |  SELECT doc_id + 60000, text, lang FROM prior
         |  WHERE doc_id >= 150 AND doc_id < 250
         |), ${sigKeyCtes("d2", "day2", NumHashes)},
         |${crawlGateCtes("d2", "day2", "rk1", "rs1")},
         |gk2 AS (
         |  SELECT key, g FROM gk1
         |  UNION ALL
         |  SELECT k.key, 2 FROM d2_key k JOIN d2_kept kk ON kk.doc_id = k.id
         |), gs2 AS (
         |  SELECT * FROM gs1
         |  UNION ALL
         |  SELECT sg.*, 2 FROM d2_sig sg JOIN d2_kept kk ON kk.doc_id = sg.id
         |), rk2 AS (
         |  SELECT key FROM (SELECT key, max(g) AS g FROM gk2 GROUP BY key)
         |  WHERE g >= 2
         |), ${retainedSigCte("rs2", "gs2", 2L, NumHashes)},
         |day3 AS (
         |  SELECT doc_id + 70000 AS doc_id, text, lang FROM d
         |  WHERE doc_id % 3 = 0 AND doc_id < 150
         |  UNION ALL
         |  SELECT doc_id + 80000, text, lang FROM d
         |  WHERE doc_id % 3 = 2 AND doc_id < 150
         |  UNION ALL
         |  SELECT doc_id + 85000,
         |    text || ' sur1 sur2 sur3 sur4 sur5 sur6 sur7 sur8', lang
         |  FROM d WHERE doc_id % 3 = 0 AND doc_id >= 150 AND doc_id < 250
         |), ${sigKeyCtes("d3", "day3", NumHashes)},
         |${crawlGateCtes("d3", "day3", "rk2", "rs2")},
         |${shipCtes("d1", "day1", "dl3a")},
         |${shipCtes("d2", "day2", "dl3b")},
         |${shipCtes("d3", "day3", "dl3c")}
         |${shipSelect("d1", 1)}
         |UNION ALL
         |${shipSelect("d2", 2)}
         |UNION ALL
         |${shipSelect("d3", 3)}
         |ORDER BY day, shard""".stripMargin,

    "p_norm_dedup" ->
      """WITH base AS (
        |  SELECT doc_id, text, lang FROM documents
        |  UNION ALL
        |  SELECT doc_id + 20000, '  ' || upper(text) || '  !! ', lang
        |  FROM documents WHERE doc_id < 150
        |  UNION ALL
        |  SELECT doc_id + 40000, replace(text, ' ', '   '), lang
        |  FROM documents WHERE doc_id >= 150 AND doc_id < 250
        |), k AS (
        |  SELECT doc_id, lang,
        |    trim(regexp_replace(regexp_replace(lower(text),
        |      '[^\p{L}\p{Nd} ]+', ' ', 'g'), ' +', ' ', 'g')) AS ck
        |  FROM base
        |), kept AS (
        |  SELECT doc_id, lang FROM (
        |    SELECT doc_id, lang,
        |      row_number() OVER (PARTITION BY ck ORDER BY doc_id) AS rn
        |    FROM k) WHERE rn = 1
        |)
        |SELECT lang, count(*) AS n_unique, CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM kept GROUP BY lang ORDER BY lang""".stripMargin,

    "p_attrition" ->
      """WITH s AS (
        |  SELECT CASE
        |    WHEN NOT coalesce(len(string_split(text, ' ')) >= 60, FALSE) THEN 0
        |    WHEN NOT coalesce(n_chars <= 900, FALSE) THEN 1
        |    WHEN NOT coalesce(lang = 'en', FALSE) THEN 2
        |    ELSE 3 END AS ff
        |  FROM documents
        |), c AS (SELECT ff, count(*) AS n FROM s GROUP BY ff),
        |total AS (SELECT count(*) AS t FROM documents),
        |st(stage_idx, stage) AS (
        |  VALUES (0, 'min_tokens'), (1, 'max_chars'), (2, 'lang_en')
        |), j AS (
        |  SELECT st.stage_idx, st.stage,
        |    CAST(coalesce(c.n, 0) AS BIGINT) AS n_dropped
        |  FROM st LEFT JOIN c ON c.ff = st.stage_idx
        |), w AS (
        |  SELECT stage_idx, stage, n_dropped,
        |    (SELECT t FROM total) - coalesce(sum(n_dropped) OVER (
        |      ORDER BY stage_idx
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_in
        |  FROM j
        |)
        |SELECT CAST(stage_idx AS INT) AS stage_idx, stage,
        |  CAST(n_in AS BIGINT) AS n_in,
        |  CAST(n_in - n_dropped AS BIGINT) AS n_kept,
        |  n_dropped
        |FROM w ORDER BY stage_idx""".stripMargin,

    "p_token_budget" ->
      """WITH t AS (
        |  SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
        |    CAST(sum(n_tokens) OVER (
        |      PARTITION BY lang ORDER BY doc_id) AS BIGINT) AS cum_tokens
        |  FROM t
        |)
        |SELECT doc_id, lang, n_tokens, cum_tokens FROM c
        |WHERE cum_tokens <= CASE WHEN lang = 'en' THEN 20000 ELSE 8000 END
        |ORDER BY doc_id""".stripMargin,

    "p_token_budget_best" ->
      """WITH t AS (
        |  SELECT doc_id, lang, n_chars,
        |    len(string_split(text, ' ')) AS n_tokens
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
        |    CAST(sum(n_tokens) OVER (
        |      PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS BIGINT)
        |      AS cum_tokens
        |  FROM t
        |)
        |SELECT doc_id, lang, n_tokens, cum_tokens FROM c
        |WHERE cum_tokens <= CASE WHEN lang = 'en' THEN 20000 ELSE 8000 END
        |ORDER BY doc_id""".stripMargin,

    "p_near_dup" ->
      s"""WITH $nearDupCtes
         |SELECT id_a, id_b, round(jac, 5) AS jaccard
         |FROM pairs WHERE jac >= 0.8 ORDER BY id_a, id_b""".stripMargin,

    "p_near_dup_k128" ->
      s"""WITH ${nearDupCtesFor(128, 32)}
         |SELECT id_a, id_b, round(jac, 5) AS jaccard
         |FROM pairs WHERE jac >= 0.8 ORDER BY id_a, id_b""".stripMargin,

    "p_near_dup_exact_first" ->
      s"""WITH dedup AS (
         |  SELECT doc_id, text FROM (
         |    SELECT doc_id, text,
         |      row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
         |    FROM documents) WHERE rn = 1
         |), ${nearDupCtesFor(128, 32, source = "dedup")}
         |SELECT id_a, id_b, round(jac, 5) AS jaccard
         |FROM pairs WHERE jac >= 0.8 ORDER BY id_a, id_b""".stripMargin,

    "p_repeated_ngrams" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(CASE WHEN len(t) >= 5 THEN
        |    list_transform(range(1, len(t)-3),
        |      i -> t[i]||' '||t[i+1]||' '||t[i+2]||' '||t[i+3]||' '||t[i+4])
        |    ELSE [] END) AS ngram
        |  FROM t
        |)
        |SELECT ngram, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occurrences
        |FROM g GROUP BY ngram HAVING count(DISTINCT doc_id) >= 3
        |ORDER BY ngram""".stripMargin,

    "p_repeat_flag" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(CASE WHEN len(t) >= 5 THEN
        |    list_transform(range(1, len(t)-3),
        |      i -> t[i]||' '||t[i+1]||' '||t[i+2]||' '||t[i+3]||' '||t[i+4])
        |    ELSE [] END) AS ngram
        |  FROM t
        |), hot AS (
        |  SELECT ngram FROM g GROUP BY ngram HAVING count(DISTINCT doc_id) >= 3
        |)
        |SELECT doc_id, count(*) AS n_hot_ngrams
        |FROM g JOIN hot USING (ngram)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // span removal: (start, ngram) pairs via lateral range, hot set by
    // distinct-doc count, covered-index cut via nested list lambdas
    "p_span_dedup" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |g AS (
        |  SELECT doc_id, u.i - 1 AS s0,
        |    t[u.i]||' '||t[u.i+1]||' '||t[u.i+2] AS ngram
        |  FROM t
        |  CROSS JOIN LATERAL (SELECT unnest(range(1, len(t) - 1)) AS i) u
        |  WHERE len(t) >= 3
        |), hot AS (
        |  SELECT ngram FROM g GROUP BY ngram HAVING count(DISTINCT doc_id) >= 3
        |), st AS (
        |  SELECT doc_id, list(DISTINCT s0) AS starts
        |  FROM g JOIN hot USING (ngram) GROUP BY doc_id
        |), j AS (
        |  SELECT t.doc_id, t.t,
        |    CASE WHEN st.starts IS NULL THEN [] ELSE st.starts END AS starts
        |  FROM t LEFT JOIN st USING (doc_id)
        |), k AS (
        |  SELECT doc_id, len(t) AS n_tokens,
        |    list_transform(
        |      list_filter(range(1, len(t) + 1),
        |        i -> len(list_filter(starts, s -> s <= i - 1 AND i - 1 < s + 3)) = 0),
        |      i -> t[i]) AS kept
        |  FROM j
        |)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(n_tokens - len(kept) AS BIGINT) AS n_removed,
        |  md5(coalesce(array_to_string(kept, ' '), '')) AS clean_md5
        |FROM k ORDER BY doc_id""".stripMargin,

    "p_span_dedup_keep_first" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |g AS (
        |  SELECT doc_id, u.i - 1 AS s0,
        |    t[u.i]||' '||t[u.i+1]||' '||t[u.i+2] AS ngram
        |  FROM t
        |  CROSS JOIN LATERAL (SELECT unnest(range(1, len(t) - 1)) AS i) u
        |  WHERE len(t) >= 3
        |), hot AS (
        |  SELECT ngram FROM g GROUP BY ngram HAVING count(DISTINCT doc_id) >= 3
        |), occ AS (
        |  SELECT doc_id, s0,
        |    row_number() OVER (PARTITION BY ngram ORDER BY doc_id, s0) AS rn
        |  FROM g JOIN hot USING (ngram)
        |), st AS (
        |  SELECT doc_id, list(DISTINCT s0) AS starts
        |  FROM occ WHERE rn > 1 GROUP BY doc_id
        |), j AS (
        |  SELECT t.doc_id, t.t,
        |    CASE WHEN st.starts IS NULL THEN [] ELSE st.starts END AS starts
        |  FROM t LEFT JOIN st USING (doc_id)
        |), k AS (
        |  SELECT doc_id, len(t) AS n_tokens,
        |    list_transform(
        |      list_filter(range(1, len(t) + 1),
        |        i -> len(list_filter(starts, s -> s <= i - 1 AND i - 1 < s + 3)) = 0),
        |      i -> t[i]) AS kept
        |  FROM j
        |)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(n_tokens - len(kept) AS BIGINT) AS n_removed,
        |  md5(coalesce(array_to_string(kept, ' '), '')) AS clean_md5
        |FROM k ORDER BY doc_id""".stripMargin,

    // span gate tier: day-1 hot 3-grams (share-bar tail + organically
    // hot corpus 3-grams) strip day-2 covered tokens under retain0;
    // the aged read empties the key set so nothing is cut (clean text
    // = the tokens re-joined — the same normalization the strip's kept
    // branch applies)
    "p_incr_span" ->
      s"""WITH d1 AS (
        |  SELECT doc_id,
        |    text || ' share this page on all social media channels right now thanks' AS text
        |  FROM documents WHERE doc_id % 3 = 1
        |), ${spanHotCte("h_", "d1", 3)},
        |d2 AS (
        |  SELECT doc_id,
        |    text || ' share this page on all social media channels right now thanks' AS text
        |  FROM documents WHERE doc_id % 3 = 0
        |), ${spanCoverCtes("s_", "d2", "h_hot")},
        |k AS (
        |  SELECT doc_id, len(t) AS n_tokens, $spanKept3 AS kept
        |  FROM s_j
        |)
        |SELECT 'retain0' AS policy, doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(n_tokens - len(kept) AS BIGINT) AS n_removed,
        |  md5(coalesce(array_to_string(kept, ' '), '')) AS clean_md5
        |FROM k
        |UNION ALL
        |SELECT 'aged', doc_id, CAST(len(t) AS BIGINT),
        |  CAST(0 AS BIGINT), md5(array_to_string(t, ' '))
        |FROM s_t2
        |ORDER BY policy, doc_id""".stripMargin,

    "p_stratified_sample" ->
      s"""SELECT lang, count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS sum_id
         |FROM documents
         |WHERE ${h60("concat(CAST(doc_id AS VARCHAR), '_', 'strat')")} / 1152921504606846976.0
         |  < CASE WHEN lang = 'en' THEN 0.5 ELSE 0.2 END
         |GROUP BY lang ORDER BY lang""".stripMargin,

    "p_seq_pack" ->
      """WITH t AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS DOUBLE) AS n FROM documents
        |), c AS (
        |  SELECT doc_id, n, sum(n) OVER (ORDER BY doc_id) - n AS cum_before FROM t
        |)
        |SELECT CAST(floor(cum_before / 256) AS BIGINT) AS pack_id,
        |  count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS total_tokens
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,

    "p_epoch_shards" ->
      s"""WITH b AS (
         |  SELECT doc_id,
         |    ${h60("concat(CAST(doc_id AS VARCHAR), '_epoch0')")} AS h
         |  FROM documents
         |)
         |SELECT doc_id, CAST(h % 8 AS INT) AS shard,
         |  CAST(row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) - 1
         |    AS BIGINT) AS shard_pos
         |FROM b ORDER BY doc_id""".stripMargin,

    "p_pack_shards" ->
      s"""WITH b AS (
         |  SELECT doc_id, strlen(text) AS n_bytes,
         |    ${h60("concat(CAST(doc_id AS VARCHAR), '_pack0')")} AS h
         |  FROM documents
         |), c AS (
         |  SELECT doc_id, n_bytes,
         |    sum(n_bytes) OVER (ORDER BY h, doc_id) AS cum
         |  FROM b
         |)
         |SELECT doc_id, CAST(n_bytes AS BIGINT) AS n_bytes,
         |  CAST(floor((cum - n_bytes) / 16384.0) AS BIGINT) AS shard
         |FROM c ORDER BY doc_id""".stripMargin,

    // connected components over the near-dup pairs: recursive reachability
    // closure, cluster id = min doc id reachable (= component minimum)
    "p_dup_clusters" ->
      s"""WITH RECURSIVE $nearDupCtes,
         |dup AS (SELECT id_a, id_b FROM pairs WHERE jac >= 0.8),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM dup
         |          UNION SELECT id_b, id_a FROM dup),
         |reach(id, r) AS (
         |  SELECT src, least(src, dst) FROM edges
         |  UNION
         |  SELECT e.src, w.r FROM edges e JOIN reach w ON w.id = e.dst
         |)
         |SELECT CAST(id AS BIGINT) AS doc_id, CAST(MIN(r) AS BIGINT) AS cluster_id
         |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,

    "p_cluster_keep_best" ->
      s"""WITH RECURSIVE $nearDupCtes,
         |dup AS (SELECT id_a, id_b FROM pairs WHERE jac >= 0.8),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM dup
         |          UNION SELECT id_b, id_a FROM dup),
         |reach(id, r) AS (
         |  SELECT src, least(src, dst) FROM edges
         |  UNION
         |  SELECT e.src, w.r FROM edges e JOIN reach w ON w.id = e.dst
         |),
         |lab AS (SELECT CAST(id AS BIGINT) AS id, CAST(MIN(r) AS BIGINT) AS lbl
         |        FROM reach GROUP BY id),
         |scored AS (
         |  SELECT d.doc_id, coalesce(l.lbl, d.doc_id) AS cluster_id,
         |    len(string_split(d.text, ' ')) AS score
         |  FROM documents d LEFT JOIN lab l ON l.id = d.doc_id
         |)
         |SELECT doc_id, cluster_id,
         |  CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS BIGINT) AS kept
         |FROM (SELECT doc_id, cluster_id, row_number() OVER (
         |        PARTITION BY cluster_id ORDER BY score DESC, doc_id) AS rn
         |      FROM scored)
         |ORDER BY doc_id""".stripMargin,

    "p_tar_pipeline" ->
      s"""WITH t AS (
         |  SELECT doc_id, lang, text, len(string_split(text, ' ')) AS n_tokens
         |  FROM documents
         |), c AS (
         |  SELECT doc_id, text, lang,
         |    sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id) AS cum
         |  FROM t
         |), kept AS (
         |  SELECT doc_id, text FROM c
         |  WHERE cum <= CASE WHEN lang = 'en' THEN 20000 ELSE 8000 END
         |), sh AS (
         |  SELECT text,
         |    CAST(${h60("concat(CAST(doc_id AS VARCHAR), '_tarpipe')")} % 8 AS INT)
         |      AS shard
         |  FROM kept
         |)
         |SELECT shard, count(*) AS n_members,
         |  CAST(sum(CAST(concat('0x', substr(md5(text), 1, 12)) AS BIGINT))
         |    AS BIGINT) AS sum_h
         |FROM sh GROUP BY shard ORDER BY shard""".stripMargin,

    "p_tar_shards" ->
      """SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
        |  md5(text) AS payload_md5
        |FROM documents ORDER BY doc_id""".stripMargin,

    "p_warc_extract" ->
      """SELECT doc_id, CAST(200 AS BIGINT) AS http_status,
        |  'text/html' AS content_type,
        |  CAST(strlen('<html><head><title>doc</title></head><body><p>' || text ||
        |    '</p></body></html>') AS BIGINT) AS n_bytes,
        |  md5('<html><head><title>doc</title></head><body><p>' || text ||
        |    '</p></body></html>') AS page_md5
        |FROM documents ORDER BY doc_id""".stripMargin,

    "p_simhash" -> {
      val bits = (0 until 16).map { i =>
        s"(CASE WHEN list_sum(list_transform(hs, h -> CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END)) > 0 THEN ${1L << i} ELSE 0 END)"
      }.mkString(" + ")
      s"""WITH hashed AS (
         |  SELECT doc_id, list_transform(string_split(text, ' '), x -> ${h60("x")}) AS hs
         |  FROM documents WHERE doc_id < 100
         |)
         |SELECT doc_id, CAST($bits AS BIGINT) AS simhash
         |FROM hashed ORDER BY doc_id""".stripMargin
    },

    "p_char_ngram_jaccard" ->
      """WITH g AS (
        |  SELECT doc_id,
        |    CASE WHEN length(text) >= 4 THEN
        |      list_distinct(list_transform(range(1, length(text)-2), i -> substr(text, i, 4)))
        |    ELSE [] END AS g
        |  FROM documents
        |)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) /
        |    greatest(len(list_distinct(a.g || b.g)), 1), 5) AS jaccard
        |FROM g a JOIN g b ON b.doc_id = a.doc_id + 1
        |WHERE a.doc_id < 100 ORDER BY a.doc_id""".stripMargin,

    "p_ann_brute" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5),
         |s AS (
         |  SELECT qid, vec_id, $cosSql AS cos
         |  FROM q JOIN embeddings ON qid <> vec_id
         |)
         |SELECT qid, vec_id, cos,
         |  CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS INT) AS rk
         |FROM s QUALIFY rk <= 3 ORDER BY qid, rk""".stripMargin,

    "p_ann_lsh" ->
      s"""WITH cb AS (
         |  SELECT vec_id, embedding, ${bucketSql("embedding")} AS bucket FROM embeddings
         |), qb AS (
         |  SELECT vec_id AS qid, embedding AS qe, ${bucketSql("embedding")} AS bucket
         |  FROM embeddings WHERE vec_id < 20
         |), s AS (
         |  SELECT qid, vec_id, $cosSql AS cos
         |  FROM qb JOIN cb USING (bucket) WHERE qid <> vec_id
         |)
         |SELECT qid, vec_id, cos,
         |  CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS INT) AS rk
         |FROM s QUALIFY rk <= 1 ORDER BY qid, rk""".stripMargin,

    "p_ann_lsh_p16" -> {
      val flipList = (0L +: (0 until 16).map(i => 1L << i)).mkString("[", ", ", "]")
      s"""WITH cb AS (
         |  SELECT vec_id, embedding, ${bucketSqlFor("embedding", planes16)} AS bucket
         |  FROM embeddings
         |), q0 AS (
         |  SELECT vec_id AS qid, embedding AS qe,
         |    ${bucketSqlFor("embedding", planes16)} AS bucket0
         |  FROM embeddings WHERE vec_id < 20
         |), qb AS (
         |  SELECT qid, qe, xor(bucket0, f.flip) AS bucket
         |  FROM q0, LATERAL (SELECT unnest($flipList) AS flip) f
         |), s AS (
         |  SELECT qid, vec_id, $cosSql AS cos
         |  FROM qb JOIN cb USING (bucket) WHERE qid <> vec_id
         |)
         |SELECT qid, vec_id, cos,
         |  CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS INT) AS rk
         |FROM s QUALIFY rk <= 1 ORDER BY qid, rk""".stripMargin
    },

    // snapshot-as-index certified against GROUND TRUTH: nprobe = all
    // cells makes IVF ≡ brute force, so the oracle is the plain
    // cross-join top-k — no cell replay anywhere
    "p_ann_snapshot" -> {
      val dp = Similarity.dotSql("q.qe", "p.embedding", 64)
      val nq = s"sqrt(${Similarity.dotSql("q.qe", "q.qe", 64)})"
      val nc = s"sqrt(${Similarity.dotSql("p.embedding", "p.embedding", 64)})"
      s"""WITH prior AS (
         |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 3 = 1
         |), q AS (
         |  SELECT vec_id AS qid, embedding AS qe FROM embeddings
         |  WHERE vec_id % 3 = 0 AND vec_id < 15
         |), scored AS (
         |  SELECT q.qid, p.vec_id, round(($dp) / (($nq) * ($nc)), 5) AS cos
         |  FROM q CROSS JOIN prior p WHERE q.qid <> p.vec_id
         |)
         |SELECT qid, vec_id, cos, rk FROM (
         |  SELECT qid, vec_id, cos,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk
         |  FROM scored)
         |WHERE rk <= 5 ORDER BY qid, rk""".stripMargin
    },

    // composed snapshot read at full (k1 × k2) probe ≡ brute force —
    // the oracle is the plain cross-join top-k over the same prior,
    // no composed-cell replay anywhere (the p_ann_snapshot convention)
    "p_ann_snapshot2" -> {
      val dp = Similarity.dotSql("q.qe", "p.embedding", 64)
      val nq = s"sqrt(${Similarity.dotSql("q.qe", "q.qe", 64)})"
      val nc = s"sqrt(${Similarity.dotSql("p.embedding", "p.embedding", 64)})"
      s"""WITH golden AS ($rekeyGoldenSql
         |), prior AS (
         |  SELECT vec_id, embedding FROM golden WHERE vec_id % 3 = 1
         |), q AS (
         |  SELECT vec_id AS qid, embedding AS qe FROM golden
         |  WHERE vec_id % 3 = 0 AND vec_id < 60
         |), scored AS (
         |  SELECT q.qid, p.vec_id, round(($dp) / (($nq) * ($nc)), 5) AS cos
         |  FROM q CROSS JOIN prior p WHERE q.qid <> p.vec_id
         |)
         |SELECT qid, vec_id, cos, rk FROM (
         |  SELECT qid, vec_id, cos,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk
         |  FROM scored)
         |WHERE rk <= 5 ORDER BY qid, rk""".stripMargin
    },

    // PQ snapshot read at full flat probe ≡ the brute ADC scan of the
    // codes: the oracle rebuilds the snapshot's codes from the prior
    // embeddings (per-sub argmin CASE chains) and replays the ADC
    // kernel — no cell replay (every posting list is probed)
    "p_ann_snapshot_pq" ->
      s"""WITH golden AS ($rekeyGoldenSql
         |), cd AS (
         |  SELECT vec_id, ${pqDistCols("embedding")} FROM golden
         |  WHERE vec_id % 3 = 1
         |), code AS (
         |  SELECT vec_id, $pqCodeCols FROM cd
         |), q AS (
         |  SELECT vec_id AS qid, embedding AS qe FROM golden
         |  WHERE vec_id % 3 = 0 AND vec_id < 60
         |), s AS (
         |  SELECT qid, vec_id, round(${pqAdcSql("qe")}, 5) AS adc
         |  FROM q JOIN code ON qid <> vec_id
         |)
         |SELECT qid, vec_id, adc,
         |  CAST(row_number() OVER (PARTITION BY qid ORDER BY adc ASC, vec_id) AS INT) AS rk
         |FROM s QUALIFY rk <= 3 ORDER BY qid, rk""".stripMargin,

    "p_ann_ivf" ->
      s"""WITH cd AS (
         |  SELECT vec_id, embedding, ${ivfDistCols("embedding")} FROM embeddings
         |), cm AS (
         |  SELECT *, $ivfLeastAll AS m FROM cd
         |), cells AS (
         |  SELECT vec_id, embedding, $ivfCellCase AS cell FROM cm
         |), qd AS (
         |  SELECT vec_id AS qid, embedding AS qe, ${ivfDistCols("embedding")}
         |  FROM embeddings WHERE vec_id < 15
         |), qm AS (
         |  SELECT *, $ivfLeastAll AS m FROM qd
         |), qc1 AS (
         |  SELECT *, $ivfCellCase AS cell1 FROM qm
         |), qc AS (
         |  SELECT qid, qe, cell1, $ivfCell2Case AS cell2 FROM qc1
         |), probe AS (
         |  SELECT qid, qe, cell1 AS cell FROM qc
         |  UNION ALL SELECT qid, qe, cell2 FROM qc
         |), s AS (
         |  SELECT qid, vec_id, $cosSql AS cos
         |  FROM probe JOIN cells USING (cell) WHERE qid <> vec_id
         |)
         |SELECT qid, vec_id, cos,
         |  CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS INT) AS rk
         |FROM s QUALIFY rk <= 2 ORDER BY qid, rk""".stripMargin,

    "p_ann_pq" ->
      s"""WITH cd AS (
         |  SELECT vec_id, ${pqDistCols("embedding")} FROM embeddings
         |), code AS (
         |  SELECT vec_id, $pqCodeCols FROM cd
         |), q AS (
         |  SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 15
         |), s AS (
         |  SELECT qid, vec_id, round(${pqAdcSql("qe")}, 5) AS adc
         |  FROM q JOIN code ON qid <> vec_id
         |)
         |SELECT qid, vec_id, adc,
         |  CAST(row_number() OVER (PARTITION BY qid ORDER BY adc ASC, vec_id) AS INT) AS rk
         |FROM s QUALIFY rk <= 2 ORDER BY qid, rk""".stripMargin,

    "p_ann_ivfpq" ->
      s"""WITH cd AS (
         |  SELECT vec_id, embedding, ${ivfDistCols("embedding")} FROM embeddings
         |), cm AS (
         |  SELECT *, $ivfLeastAll AS m FROM cd
         |), cells AS (
         |  SELECT vec_id, embedding, $ivfCellCase AS cell FROM cm
         |), pd AS (
         |  SELECT vec_id, cell, ${pqDistCols("embedding")} FROM cells
         |), code AS (
         |  SELECT vec_id, cell, $pqCodeCols FROM pd
         |), qd AS (
         |  SELECT vec_id AS qid, embedding AS qe, ${ivfDistCols("embedding")}
         |  FROM embeddings WHERE vec_id < 15
         |), qm AS (
         |  SELECT *, $ivfLeastAll AS m FROM qd
         |), qc1 AS (
         |  SELECT *, $ivfCellCase AS cell1 FROM qm
         |), qc AS (
         |  SELECT qid, qe, cell1, $ivfCell2Case AS cell2 FROM qc1
         |), probe AS (
         |  SELECT qid, qe, cell1 AS cell FROM qc
         |  UNION ALL SELECT qid, qe, cell2 FROM qc
         |), s AS (
         |  SELECT qid, vec_id, round(${pqAdcSql("qe")}, 5) AS adc
         |  FROM probe JOIN code USING (cell) WHERE qid <> vec_id
         |)
         |SELECT qid, vec_id, adc,
         |  CAST(row_number() OVER (PARTITION BY qid ORDER BY adc ASC, vec_id) AS INT) AS rk
         |FROM s QUALIFY rk <= 2 ORDER BY qid, rk""".stripMargin,

    "p_embed_dedup" -> {
      val dp = Similarity.dotSql("a.embedding", "c.embedding", 64)
      val na = s"sqrt(${Similarity.dotSql("a.embedding", "a.embedding", 64)})"
      val nc = s"sqrt(${Similarity.dotSql("c.embedding", "c.embedding", 64)})"
      s"""WITH b AS (
         |  SELECT vec_id, embedding, ${bucketSql("embedding")} AS bucket FROM embeddings
         |), pairs AS (
         |  SELECT a.vec_id AS id_a, c.vec_id AS id_b,
         |    round(($dp) / (($na) * ($nc)), 5) AS cos
         |  FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
         |)
         |SELECT id_a, id_b, cos FROM pairs WHERE cos >= 0.4
         |ORDER BY id_a, id_b""".stripMargin
    },

    "p_semdedup" -> {
      val dp = Similarity.dotSql("a.embedding", "c.embedding", 64)
      val na = s"sqrt(${Similarity.dotSql("a.embedding", "a.embedding", 64)})"
      val nc = s"sqrt(${Similarity.dotSql("c.embedding", "c.embedding", 64)})"
      s"""WITH cd AS (
         |  SELECT vec_id, embedding, ${ivfDistCols("embedding")} FROM embeddings
         |), cm AS (
         |  SELECT *, $ivfLeastAll AS m FROM cd
         |), cells AS (
         |  SELECT vec_id, embedding, $ivfCellCase AS cell FROM cm
         |), dup0 AS (
         |  SELECT c.vec_id AS vec_id,
         |    round(($dp) / (($na) * ($nc)), 5) AS cos
         |  FROM cells a JOIN cells c ON a.cell = c.cell AND a.vec_id < c.vec_id
         |), dup AS (
         |  SELECT * FROM dup0 WHERE cos >= 0.35
         |), agg AS (
         |  SELECT vec_id, count(*) AS n_sem_dups, max(cos) AS max_cos
         |  FROM dup GROUP BY vec_id
         |)
         |SELECT cells.vec_id, CAST(cell AS INT) AS cell,
         |  CAST(coalesce(n_sem_dups, 0) AS BIGINT) AS n_sem_dups,
         |  coalesce(max_cos, 0.0) AS max_cos,
         |  CAST(CASE WHEN n_sem_dups IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept
         |FROM cells LEFT JOIN agg ON cells.vec_id = agg.vec_id
         |ORDER BY cells.vec_id""".stripMargin
    },

    "p_semdedup_keep_best" -> {
      val dp = Similarity.dotSql("a.embedding", "c.embedding", 64)
      val na = s"sqrt(${Similarity.dotSql("a.embedding", "a.embedding", 64)})"
      val nc = s"sqrt(${Similarity.dotSql("c.embedding", "c.embedding", 64)})"
      s"""WITH RECURSIVE cd AS (
         |  SELECT vec_id, embedding, ${ivfDistCols("embedding")} FROM embeddings
         |), cm AS (
         |  SELECT *, $ivfLeastAll AS m FROM cd
         |), cells AS (
         |  SELECT vec_id, embedding, $ivfCellCase AS cell FROM cm
         |), dup0 AS (
         |  SELECT a.vec_id AS id_a, c.vec_id AS id_b,
         |    round(($dp) / (($na) * ($nc)), 5) AS cos
         |  FROM cells a JOIN cells c ON a.cell = c.cell AND a.vec_id < c.vec_id
         |), dup AS (
         |  SELECT id_a, id_b FROM dup0 WHERE cos >= 0.35
         |), edges AS (SELECT id_a AS src, id_b AS dst FROM dup
         |             UNION SELECT id_b, id_a FROM dup),
         |reach(id, r) AS (
         |  SELECT src, least(src, dst) FROM edges
         |  UNION
         |  SELECT e.src, w.r FROM edges e JOIN reach w ON w.id = e.dst
         |),
         |lab AS (SELECT CAST(id AS BIGINT) AS id, CAST(MIN(r) AS BIGINT) AS lbl
         |        FROM reach GROUP BY id),
         |scored AS (
         |  SELECT e.vec_id, coalesce(l.lbl, e.vec_id) AS cluster_id,
         |    e.label AS score
         |  FROM embeddings e LEFT JOIN lab l ON l.id = e.vec_id
         |)
         |SELECT vec_id, cluster_id,
         |  CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS BIGINT) AS kept
         |FROM (SELECT vec_id, cluster_id, row_number() OVER (
         |        PARTITION BY cluster_id ORDER BY score DESC, vec_id) AS rn
         |      FROM scored)
         |ORDER BY vec_id""".stripMargin
    },

    "p_incr_semdedup" -> {
      val cos = cosBP
      s"""WITH pd AS (
         |  SELECT vec_id, embedding, ${ivfDistCols("embedding")}
         |  FROM embeddings WHERE vec_id % 3 = 1
         |), pm AS (SELECT *, $ivfLeastAll AS m FROM pd),
         |prior AS (
         |  SELECT vec_id, embedding, $ivfCellCase AS cell FROM pm
         |  QUALIFY count(*) OVER (PARTITION BY cell) <= 1000
         |), bsrc AS (
         |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 3 = 0
         |  UNION ALL
         |  SELECT vec_id + 20000, embedding FROM embeddings
         |  WHERE vec_id % 3 = 1 AND vec_id < 100
         |), bd AS (
         |  SELECT vec_id, embedding, ${ivfDistCols("embedding")} FROM bsrc
         |), bm AS (SELECT *, $ivfLeastAll AS m FROM bd),
         |bc1 AS (SELECT *, $ivfCellCase AS cell1 FROM bm),
         |bc AS (SELECT vec_id, embedding, cell1, $ivfCell2Case AS cell2 FROM bc1),
         |bprobe AS (
         |  SELECT vec_id, embedding, cell1 AS cell FROM bc
         |  UNION ALL SELECT vec_id, embedding, cell2 FROM bc
         |), bcap AS (
         |  SELECT * FROM bprobe
         |  QUALIFY count(*) OVER (PARTITION BY cell) <= 1000
         |), flagged AS (
         |  SELECT DISTINCT b.vec_id
         |  FROM bcap b JOIN prior p USING (cell)
         |  WHERE $cos >= 0.35
         |)
         |SELECT vec_id, CAST(cell1 AS INT) AS cell FROM bc
         |WHERE vec_id NOT IN (SELECT vec_id FROM flagged)
         |ORDER BY vec_id""".stripMargin
    },

    "p_crawl_sem" -> {
      val cos = cosBP
      val farSql = "list_transform(range(1, 65), i -> CAST(25.0 AS DOUBLE))"
      s"""WITH corpus AS (
         |  SELECT d.doc_id, d.text, d.lang, e.embedding
         |  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
         |), prior AS (SELECT * FROM corpus WHERE doc_id % 3 = 1),
         |batch AS (
         |  SELECT doc_id, text, lang, embedding FROM corpus WHERE doc_id % 3 = 0
         |  UNION ALL
         |  SELECT doc_id + 20000, '  ' || upper(text) || '  !! ', lang, $farSql
         |  FROM prior WHERE doc_id < 150
         |  UNION ALL
         |  SELECT doc_id + 40000,
         |    text || ' sur1 sur2 sur3 sur4 sur5 sur6 sur7 sur8', lang, $farSql
         |  FROM prior WHERE doc_id >= 150 AND doc_id < 250
         |  UNION ALL
         |  SELECT doc_id + 60000, text, lang, $farSql
         |  FROM prior WHERE doc_id >= 250 AND doc_id < 350
         |  UNION ALL
         |  SELECT doc_id + 80000,
         |    'reworded page number ' || doc_id || ' entirely different words here',
         |    lang, embedding
         |  FROM prior WHERE doc_id < 150
         |), ${sigKeyCtes("p", "prior", NumHashes)},
         |pck AS (SELECT md5(${canonSql("text")}) AS key FROM prior),
         |${sigKeyCtes("b1", "batch", NumHashes)},
         |${crawlGateCtes("b1", "batch", "p_key", "p_sig", Some("pck"))},
         |prsrc AS (SELECT doc_id AS vec_id, embedding FROM prior),
         |s5src AS (
         |  SELECT b.doc_id AS vec_id, b.embedding
         |  FROM b1_kept k JOIN batch b ON b.doc_id = k.doc_id
         |), ${ivfCellCtes("prc", "prsrc", Some(1000))},
         |${ivfCellCtes("s5c", "s5src", Some(1000))},
         |f5 AS (
         |  SELECT DISTINCT b.vec_id FROM s5c b JOIN prc p ON b.cell = p.cell
         |  WHERE $cos >= 0.999
         |), kept5 AS (
         |  SELECT doc_id FROM b1_kept
         |  WHERE doc_id NOT IN (SELECT vec_id FROM f5)
         |)
         |SELECT CAST(floor(doc_id / 20000) AS BIGINT) AS class,
         |  count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS sum_ids
         |FROM kept5 GROUP BY 1 ORDER BY 1""".stripMargin
    },

    // five-tier membrane under the TWO-LEVEL quantizer: identical
    // replay to p_crawl_sem with the flat cell CTEs swapped for the
    // composed-cell chain (coarse argmin → residual fine argmin, the
    // p_semdedup_rekey2 machinery) on BOTH the prior and survivor sides
    "p_crawl_sem2" -> {
      val cos = cosBP
      val farSql = "list_transform(range(1, 65), i -> CAST(25.0 AS DOUBLE))"
      s"""WITH corpus AS (
         |  SELECT d.doc_id, d.text, d.lang, e.embedding
         |  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
         |), prior AS (SELECT * FROM corpus WHERE doc_id % 3 = 1),
         |batch AS (
         |  SELECT doc_id, text, lang, embedding FROM corpus WHERE doc_id % 3 = 0
         |  UNION ALL
         |  SELECT doc_id + 20000, '  ' || upper(text) || '  !! ', lang, $farSql
         |  FROM prior WHERE doc_id < 150
         |  UNION ALL
         |  SELECT doc_id + 40000,
         |    text || ' sur1 sur2 sur3 sur4 sur5 sur6 sur7 sur8', lang, $farSql
         |  FROM prior WHERE doc_id >= 150 AND doc_id < 250
         |  UNION ALL
         |  SELECT doc_id + 60000, text, lang, $farSql
         |  FROM prior WHERE doc_id >= 250 AND doc_id < 350
         |  UNION ALL
         |  SELECT doc_id + 80000,
         |    'reworded page number ' || doc_id || ' entirely different words here',
         |    lang, embedding
         |  FROM prior WHERE doc_id < 150
         |), ${sigKeyCtes("p", "prior", NumHashes)},
         |pck AS (SELECT md5(${canonSql("text")}) AS key FROM prior),
         |${sigKeyCtes("b1", "batch", NumHashes)},
         |${crawlGateCtes("b1", "batch", "p_key", "p_sig", Some("pck"))},
         |prsrc AS (SELECT doc_id AS vec_id, embedding FROM prior),
         |s5src AS (
         |  SELECT b.doc_id AS vec_id, b.embedding
         |  FROM b1_kept k JOIN batch b ON b.doc_id = k.doc_id
         |), ${ivf2CellCtesFor("prc", "prsrc", Some(1000), semCoarse4, semFine4)},
         |${ivf2CellCtesFor("s5c", "s5src", Some(1000), semCoarse4, semFine4)},
         |f5 AS (
         |  SELECT DISTINCT b.vec_id FROM s5c b JOIN prc p ON b.cell = p.cell
         |  WHERE $cos >= 0.999
         |), kept5 AS (
         |  SELECT doc_id FROM b1_kept
         |  WHERE doc_id NOT IN (SELECT vec_id FROM f5)
         |)
         |SELECT CAST(floor(doc_id / 20000) AS BIGINT) AS class,
         |  count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS sum_ids
         |FROM kept5 GROUP BY 1 ORDER BY 1""".stripMargin
    },

    // five-tier membrane over the PQ snapshot: the flat-cell replay of
    // p_crawl_sem with BOTH semantic sides pushed through the
    // code/decode CASE chains (the p_semdedup_pq machinery) before the
    // round-5 cosine — codes are a pure function of (embedding, books),
    // so the oracle rebuilds the snapshot exactly
    "p_crawl_sem_pq" -> {
      val cos = cosBP
      val farSql = "list_transform(range(1, 65), i -> CAST(25.0 AS DOUBLE))"
      s"""WITH corpus AS (
         |  SELECT d.doc_id, d.text, d.lang, e.embedding
         |  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
         |), prior AS (SELECT * FROM corpus WHERE doc_id % 3 = 1),
         |batch AS (
         |  SELECT doc_id, text, lang, embedding FROM corpus WHERE doc_id % 3 = 0
         |  UNION ALL
         |  SELECT doc_id + 20000, '  ' || upper(text) || '  !! ', lang, $farSql
         |  FROM prior WHERE doc_id < 150
         |  UNION ALL
         |  SELECT doc_id + 40000,
         |    text || ' sur1 sur2 sur3 sur4 sur5 sur6 sur7 sur8', lang, $farSql
         |  FROM prior WHERE doc_id >= 150 AND doc_id < 250
         |  UNION ALL
         |  SELECT doc_id + 60000, text, lang, $farSql
         |  FROM prior WHERE doc_id >= 250 AND doc_id < 350
         |  UNION ALL
         |  SELECT doc_id + 80000,
         |    'reworded page number ' || doc_id || ' entirely different words here',
         |    lang, embedding
         |  FROM prior WHERE doc_id < 150
         |), ${sigKeyCtes("p", "prior", NumHashes)},
         |pck AS (SELECT md5(${canonSql("text")}) AS key FROM prior),
         |${sigKeyCtes("b1", "batch", NumHashes)},
         |${crawlGateCtes("b1", "batch", "p_key", "p_sig", Some("pck"))},
         |prsrc AS (SELECT doc_id AS vec_id, embedding FROM prior),
         |s5src AS (
         |  SELECT b.doc_id AS vec_id, b.embedding
         |  FROM b1_kept k JOIN batch b ON b.doc_id = k.doc_id
         |), ${ivfCellCtes("prc", "prsrc", Some(1000))},
         |${ivfCellCtes("s5c", "s5src", Some(1000))},
         |pcd AS (SELECT vec_id, cell, ${pqDistColsFor("embedding", pqBooks16)} FROM prc),
         |pcode AS (SELECT vec_id, cell, ${pqCodeColsFor(pqBooks16)} FROM pcd),
         |pdec AS (SELECT vec_id, cell, ${pqDecodeSqlFor(pqBooks16)} AS embedding FROM pcode),
         |bcd AS (SELECT vec_id, cell, ${pqDistColsFor("embedding", pqBooks16)} FROM s5c),
         |bcode AS (SELECT vec_id, cell, ${pqCodeColsFor(pqBooks16)} FROM bcd),
         |bdec AS (SELECT vec_id, cell, ${pqDecodeSqlFor(pqBooks16)} AS embedding FROM bcode),
         |f5 AS (
         |  SELECT DISTINCT b.vec_id FROM bdec b JOIN pdec p USING (cell)
         |  WHERE $cos >= 0.999
         |), kept5 AS (
         |  SELECT doc_id FROM b1_kept
         |  WHERE doc_id NOT IN (SELECT vec_id FROM f5)
         |)
         |SELECT CAST(floor(doc_id / 20000) AS BIGINT) AS class,
         |  count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS sum_ids
         |FROM kept5 GROUP BY 1 ORDER BY 1""".stripMargin
    },

    "p_daily_full" -> {
      val cos = cosBP
      val farSql = "list_transform(range(1, 65), i -> CAST(25.0 AS DOUBLE))"
      def pageSql(t: String, id: String) =
        s"""concat_ws(chr(10),
           |    'Subscribe to our newsletter today!',
           |    'Slogan number ' || (($id) % 40),
           |    $t,
           |    'Unique closer ' || ($id))""".stripMargin
      s"""WITH corpus AS (
         |  SELECT d.doc_id, d.text, d.lang, e.embedding
         |  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
         |), pbase AS (SELECT * FROM corpus WHERE doc_id % 3 = 1),
         |prior AS (
         |  SELECT doc_id, ${pageSql("text", "doc_id")} AS text, lang, embedding
         |  FROM pbase
         |), batch AS (
         |  SELECT doc_id, ${pageSql("text", "doc_id")} AS text, lang, embedding
         |  FROM corpus WHERE doc_id % 3 = 0
         |  UNION ALL
         |  SELECT doc_id + 20000, '  ' || upper(text) || '  !! ', lang, $farSql
         |  FROM prior WHERE doc_id < 150
         |  UNION ALL
         |  SELECT doc_id + 40000,
         |    text || ' sur1 sur2 sur3 sur4 sur5 sur6 sur7 sur8', lang, $farSql
         |  FROM prior WHERE doc_id >= 150 AND doc_id < 250
         |  UNION ALL
         |  SELECT doc_id + 60000, text, lang, $farSql
         |  FROM prior WHERE doc_id >= 250 AND doc_id < 350
         |  UNION ALL
         |  SELECT doc_id + 80000,
         |    ${pageSql(
               "'reworded page number ' || doc_id || ' entirely different words here'",
               "doc_id + 80000")},
         |    lang, embedding
         |  FROM pbase WHERE doc_id < 150
         |), ${sigKeyCtes("p", "prior", NumHashes)},
         |pck AS (SELECT md5(${canonSql("text")}) AS key FROM prior),
         |${sigKeyCtes("b1", "batch", NumHashes)},
         |${crawlGateCtes("b1", "batch", "p_key", "p_sig", Some("pck"))},
         |prsrc AS (SELECT doc_id AS vec_id, embedding FROM prior),
         |s5src AS (
         |  SELECT b.doc_id AS vec_id, b.embedding
         |  FROM b1_kept k JOIN batch b ON b.doc_id = k.doc_id
         |), ${ivfCellCtes("prc", "prsrc", Some(1000))},
         |${ivfCellCtes("s5c", "s5src", Some(1000))},
         |f5 AS (
         |  SELECT DISTINCT b.vec_id FROM s5c b JOIN prc p ON b.cell = p.cell
         |  WHERE $cos >= 0.999
         |), kept5 AS (
         |  SELECT doc_id, lang FROM b1_kept
         |  WHERE doc_id NOT IN (SELECT vec_id FROM f5)
         |), k0 AS (
         |  SELECT DISTINCT md5(u.para) AS k
         |  FROM (SELECT string_split(text, chr(10)) AS l FROM prior) ls
         |  CROSS JOIN LATERAL (SELECT unnest(l) AS para) u
         |  WHERE trim(u.para) <> ''
         |), kpage AS (
         |  SELECT kk.doc_id, string_split(b.text, chr(10)) AS l
         |  FROM kept5 kk JOIN batch b ON b.doc_id = kk.doc_id
         |), paras AS (
         |  SELECT doc_id, u.pos, l[u.pos] AS para
         |  FROM kpage
         |  CROSS JOIN LATERAL (SELECT unnest(range(1, len(l)+1)) AS pos) u
         |), strip AS (
         |  SELECT p.doc_id,
         |    coalesce(string_agg(
         |      CASE WHEN trim(p.para) = '' OR k.k IS NULL THEN p.para END,
         |      chr(10) ORDER BY p.pos), '') AS text
         |  FROM paras p LEFT JOIN k0 k ON md5(p.para) = k.k
         |  GROUP BY p.doc_id
         |), d5_keptx AS (
         |  SELECT s.doc_id, kk.lang, s.text
         |  FROM strip s JOIN kept5 kk ON kk.doc_id = s.doc_id
         |), ${shipFromKeptx("d5", "dfull")}
         |${shipSelect("d5", 1)}
         |ORDER BY day, shard""".stripMargin
    },

    // the COMPLETE-membrane capstone: p_daily_full's chain with the
    // ZEROTH url tier replayed in FRONT (within-batch canonical-url
    // dedup + NOT IN the prior's url keys) and the SPAN tier replayed
    // after the paragraph strip (hot 3-grams of the prior pages —
    // share-bar tail + organics — cut from the kept, already
    // paragraph-stripped pages) — the production order end-to-end
    "p_daily_full7" -> {
      val cos = cosBP
      val farSql = "list_transform(range(1, 65), i -> CAST(25.0 AS DOUBLE))"
      val barSql = "' share this page on all social media channels right now thanks'"
      def pageSql(t: String, id: String) =
        s"""concat_ws(chr(10),
           |    'Subscribe to our newsletter today!',
           |    'Slogan number ' || (($id) % 40),
           |    $t,
           |    'Unique closer ' || ($id))""".stripMargin
      s"""WITH corpus AS (
         |  SELECT d.doc_id, d.text, d.lang, d.source, e.embedding
         |  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
         |), pbase AS (SELECT * FROM corpus WHERE doc_id % 3 = 1),
         |prior AS (
         |  SELECT doc_id, ${pageSql(s"text || $barSql", "doc_id")} AS text, lang,
         |    $urlFixtureSql AS url, embedding
         |  FROM pbase
         |), batch AS (
         |  SELECT doc_id, ${pageSql(s"text || $barSql", "doc_id")} AS text, lang,
         |    $urlFixtureSql AS url, embedding
         |  FROM corpus WHERE doc_id % 3 = 0
         |  UNION ALL
         |  SELECT doc_id + 20000, '  ' || upper(text) || '  !! ', lang,
         |    'https://replica.example.com/r/' || (doc_id + 20000), $farSql
         |  FROM prior WHERE doc_id < 150
         |  UNION ALL
         |  SELECT doc_id + 40000,
         |    text || ' sur1 sur2 sur3 sur4 sur5 sur6 sur7 sur8', lang,
         |    'https://replica.example.com/r/' || (doc_id + 40000), $farSql
         |  FROM prior WHERE doc_id >= 150 AND doc_id < 250
         |  UNION ALL
         |  SELECT doc_id + 60000, text, lang,
         |    'https://replica.example.com/r/' || (doc_id + 60000), $farSql
         |  FROM prior WHERE doc_id >= 250 AND doc_id < 350
         |  UNION ALL
         |  SELECT doc_id + 80000,
         |    ${pageSql(
               "'reworded page number ' || doc_id || ' entirely different words here'",
               "doc_id + 80000")},
         |    lang, 'https://replica.example.com/r/' || (doc_id + 80000),
         |    embedding
         |  FROM pbase WHERE doc_id < 150
         |  UNION ALL
         |  SELECT doc_id + 100000,
         |    ${pageSql("'url replica body ' || doc_id", "doc_id + 100000")},
         |    lang, url || '#u', $farSql
         |  FROM prior WHERE doc_id >= 350 AND doc_id < 450
         |), ubk AS (
         |  SELECT doc_id, md5(${normUrlSql("url")}) AS uk FROM batch
         |), upk AS (
         |  SELECT DISTINCT md5(${normUrlSql("url")}) AS uk FROM prior
         |), u1 AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id, uk,
         |      row_number() OVER (PARTITION BY uk ORDER BY doc_id) AS rn
         |    FROM ubk) WHERE rn = 1 AND uk NOT IN (SELECT uk FROM upk)
         |), batch0 AS (
         |  SELECT b.doc_id, b.text, b.lang, b.embedding
         |  FROM batch b JOIN u1 USING (doc_id)
         |), ${sigKeyCtes("p", "prior", NumHashes)},
         |pck AS (SELECT md5(${canonSql("text")}) AS key FROM prior),
         |${sigKeyCtes("b1", "batch0", NumHashes)},
         |${crawlGateCtes("b1", "batch0", "p_key", "p_sig", Some("pck"))},
         |prsrc AS (SELECT doc_id AS vec_id, embedding FROM prior),
         |s5src AS (
         |  SELECT b.doc_id AS vec_id, b.embedding
         |  FROM b1_kept k JOIN batch0 b ON b.doc_id = k.doc_id
         |), ${ivfCellCtes("prc", "prsrc", Some(1000))},
         |${ivfCellCtes("s5c", "s5src", Some(1000))},
         |f5 AS (
         |  SELECT DISTINCT b.vec_id FROM s5c b JOIN prc p ON b.cell = p.cell
         |  WHERE $cos >= 0.999
         |), kept5 AS (
         |  SELECT doc_id, lang FROM b1_kept
         |  WHERE doc_id NOT IN (SELECT vec_id FROM f5)
         |), k0 AS (
         |  SELECT DISTINCT md5(u.para) AS k
         |  FROM (SELECT string_split(text, chr(10)) AS l FROM prior) ls
         |  CROSS JOIN LATERAL (SELECT unnest(l) AS para) u
         |  WHERE trim(u.para) <> ''
         |), kpage AS (
         |  SELECT kk.doc_id, string_split(b.text, chr(10)) AS l
         |  FROM kept5 kk JOIN batch0 b ON b.doc_id = kk.doc_id
         |), paras AS (
         |  SELECT doc_id, u.pos, l[u.pos] AS para
         |  FROM kpage
         |  CROSS JOIN LATERAL (SELECT unnest(range(1, len(l)+1)) AS pos) u
         |), strip AS (
         |  SELECT p.doc_id,
         |    coalesce(string_agg(
         |      CASE WHEN trim(p.para) = '' OR k.k IS NULL THEN p.para END,
         |      chr(10) ORDER BY p.pos), '') AS text
         |  FROM paras p LEFT JOIN k0 k ON md5(p.para) = k.k
         |  GROUP BY p.doc_id
         |), ${spanHotCte("sp_", "prior", 3)},
         |${spanCoverCtes("spc_", "strip", "sp_hot")},
         |spanstrip AS (
         |  SELECT doc_id,
         |    coalesce(array_to_string($spanKept3, ' '), '') AS text
         |  FROM spc_j
         |), d7_keptx AS (
         |  SELECT s.doc_id, kk.lang, s.text
         |  FROM spanstrip s JOIN kept5 kk ON kk.doc_id = s.doc_id
         |), ${shipFromKeptx("d7", "dfull7")}
         |${shipSelect("d7", 1)}
         |ORDER BY day, shard""".stripMargin
    },

    "p_incr_semdedup_ttl" -> {
      val cos = cosBP
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |pr AS (SELECT vec_id, embedding FROM e WHERE vec_id % 3 = 1),
         |${ivfCellCtes("prc", "pr", None)},
         |g0 AS (SELECT vec_id AS id, cell, embedding, 0 AS g FROM prc),
         |r0 AS (
         |  SELECT id, cell, embedding FROM g0 WHERE g >= 0
         |  QUALIFY count(*) OVER (PARTITION BY cell) <= 1000
         |), day1 AS (
         |  SELECT vec_id, embedding FROM e WHERE vec_id % 3 = 2
         |  UNION ALL
         |  SELECT vec_id + 20000, embedding FROM pr WHERE vec_id < 100
         |), ${ivfCellCtes("d1c", "day1", None)},
         |d1cap AS (
         |  SELECT * FROM d1c
         |  QUALIFY count(*) OVER (PARTITION BY cell) <= 1000
         |), f1 AS (
         |  SELECT DISTINCT b.vec_id FROM d1cap b JOIN r0 p ON b.cell = p.cell
         |  WHERE $cos >= 0.999
         |), kept1 AS (
         |  SELECT vec_id, embedding FROM day1
         |  WHERE vec_id NOT IN (SELECT vec_id FROM f1)
         |), ${ivfCellCtes("k1c", "kept1", None)},
         |g1 AS (
         |  SELECT id, cell, embedding, g FROM g0
         |  UNION ALL
         |  SELECT vec_id, cell, embedding, 1 FROM k1c
         |), r1 AS (
         |  SELECT id, cell, embedding FROM g1 WHERE g >= 1
         |  QUALIFY count(*) OVER (PARTITION BY cell) <= 1000
         |), day2 AS (
         |  SELECT vec_id, embedding FROM e WHERE vec_id % 3 = 0
         |  UNION ALL
         |  SELECT vec_id + 40000, embedding FROM pr
         |  WHERE vec_id >= 100 AND vec_id < 200
         |  UNION ALL
         |  SELECT vec_id + 60000, embedding FROM e
         |  WHERE vec_id % 3 = 2 AND vec_id < 100
         |), ${ivfCellCtes("d2c", "day2", None)},
         |d2cap AS (
         |  SELECT * FROM d2c
         |  QUALIFY count(*) OVER (PARTITION BY cell) <= 1000
         |), f2 AS (
         |  SELECT DISTINCT b.vec_id FROM d2cap b JOIN r1 p ON b.cell = p.cell
         |  WHERE $cos >= 0.999
         |), kept2 AS (
         |  SELECT vec_id FROM day2
         |  WHERE vec_id NOT IN (SELECT vec_id FROM f2)
         |), un AS (
         |  SELECT 1 AS day, vec_id FROM kept1
         |  UNION ALL SELECT 2 AS day, vec_id FROM kept2
         |)
         |SELECT day, count(*) AS n_new, CAST(sum(vec_id) AS BIGINT) AS sum_ids
         |FROM un GROUP BY day ORDER BY day""".stripMargin
    },

    // quantizer-growth lifecycle: BOTH gate paths replayed — the stale
    // k=2 quantizer (over-cap cells → QUALIFY caps them out → replicas
    // pass) and the re-keyed k=16 path (re-key ≡ fresh assignment from
    // the stored embeddings, which is exactly what the cell CTEs
    // compute). All fixture values exact in float and double, so the
    // two engines agree bit-for-bit
    "p_semdedup_rekey" -> {
      val cos = cosBP
      s"""WITH allv AS (
         |  $rekeyGoldenSql
         |), prior AS (SELECT vec_id, embedding FROM allv WHERE vec_id % 3 = 1),
         |batch AS (
         |  SELECT vec_id, embedding FROM allv WHERE vec_id % 3 = 0
         |  UNION ALL
         |  SELECT vec_id + 20000, embedding FROM prior WHERE vec_id < 150
         |), ${ivfCellCtesFor("pstale", "prior", Some(200), rekeyStaleCents)},
         |${ivfCellCtesFor("bstale", "batch", Some(200), rekeyStaleCents)},
         |fstale AS (
         |  SELECT DISTINCT b.vec_id FROM bstale b JOIN pstale p USING (cell)
         |  WHERE $cos >= 0.999
         |), kstale AS (
         |  SELECT vec_id FROM batch
         |  WHERE vec_id NOT IN (SELECT vec_id FROM fstale)
         |), ${ivfCellCtesFor("pnew", "prior", Some(200), rekeyNewCents)},
         |${ivfCellCtesFor("bnew", "batch", Some(200), rekeyNewCents)},
         |fnew AS (
         |  SELECT DISTINCT b.vec_id FROM bnew b JOIN pnew p USING (cell)
         |  WHERE $cos >= 0.999
         |), knew AS (
         |  SELECT vec_id FROM batch
         |  WHERE vec_id NOT IN (SELECT vec_id FROM fnew)
         |), un AS (
         |  SELECT 'stale' AS path, vec_id FROM kstale
         |  UNION ALL SELECT 'rekeyed', vec_id FROM knew
         |)
         |SELECT path, CAST(floor(vec_id / 20000) AS BIGINT) AS class,
         |  count(*) AS n_kept, CAST(sum(vec_id) AS BIGINT) AS sum_ids
         |FROM un GROUP BY path, class ORDER BY path, class""".stripMargin
    },

    // the PQ snapshot gate: flat cells capped at 200 (QUALIFY replay),
    // codes via the shared pqDistCols/pqCodeCols fragments, BOTH sides
    // decoded through the same CASE chains, rounded decoded cosine —
    // exact replicas decode identically (cos = 1.0 exactly)
    "p_semdedup_pq" -> {
      val cos = cosBP
      s"""WITH allv AS (
         |  $rekeyGoldenSql
         |), prior AS (SELECT vec_id, embedding FROM allv WHERE vec_id % 3 = 1),
         |batch AS (
         |  SELECT vec_id, embedding FROM allv WHERE vec_id % 3 = 0
         |  UNION ALL
         |  SELECT vec_id + 20000, embedding FROM prior WHERE vec_id < 150
         |), ${ivfCellCtesFor("pc", "prior", Some(200), rekeyNewCents)},
         |${ivfCellCtesFor("bc", "batch", Some(200), rekeyNewCents)},
         |pcd AS (SELECT vec_id, cell, ${pqDistCols("embedding")} FROM pc),
         |pcode AS (SELECT vec_id, cell, $pqCodeCols FROM pcd),
         |pdec AS (SELECT vec_id, cell, $pqDecodeSql AS embedding FROM pcode),
         |bcd AS (SELECT vec_id, cell, ${pqDistCols("embedding")} FROM bc),
         |bcode AS (SELECT vec_id, cell, $pqCodeCols FROM bcd),
         |bdec AS (SELECT vec_id, cell, $pqDecodeSql AS embedding FROM bcode),
         |f AS (
         |  SELECT DISTINCT b.vec_id FROM bdec b JOIN pdec p USING (cell)
         |  WHERE $cos >= 0.999
         |), kept AS (
         |  SELECT vec_id FROM batch
         |  WHERE vec_id NOT IN (SELECT vec_id FROM f)
         |)
         |SELECT CAST(floor(vec_id / 20000) AS BIGINT) AS class,
         |  count(*) AS n_kept, CAST(sum(vec_id) AS BIGINT) AS sum_ids
         |FROM kept GROUP BY class ORDER BY class""".stripMargin
    },

    // the composed-quantizer re-key: the stale flat replay is
    // p_semdedup_rekey's verbatim; the grown path replays the
    // TWO-LEVEL assignment (coarse argmin → per-branch residual fine
    // argmin via |f|²−2·(v·f − c·f) with Scala-computed literals) —
    // every fixture value exact in float and double
    "p_semdedup_rekey2" -> {
      val cos = cosBP
      s"""WITH allv AS (
         |  $rekeyGoldenSql
         |), prior AS (SELECT vec_id, embedding FROM allv WHERE vec_id % 3 = 1),
         |batch AS (
         |  SELECT vec_id, embedding FROM allv WHERE vec_id % 3 = 0
         |  UNION ALL
         |  SELECT vec_id + 20000, embedding FROM prior WHERE vec_id < 150
         |), ${ivfCellCtesFor("pstale", "prior", Some(200), rekeyStaleCents)},
         |${ivfCellCtesFor("bstale", "batch", Some(200), rekeyStaleCents)},
         |fstale AS (
         |  SELECT DISTINCT b.vec_id FROM bstale b JOIN pstale p USING (cell)
         |  WHERE $cos >= 0.999
         |), kstale AS (
         |  SELECT vec_id FROM batch
         |  WHERE vec_id NOT IN (SELECT vec_id FROM fstale)
         |), ${ivf2CellCtesFor("p2", "prior", Some(200), rekeyCoarse, rekeyFine)},
         |${ivf2CellCtesFor("b2", "batch", Some(200), rekeyCoarse, rekeyFine)},
         |f2 AS (
         |  SELECT DISTINCT b.vec_id FROM b2 b JOIN p2 p USING (cell)
         |  WHERE $cos >= 0.999
         |), k2 AS (
         |  SELECT vec_id FROM batch
         |  WHERE vec_id NOT IN (SELECT vec_id FROM f2)
         |), un AS (
         |  SELECT 'stale' AS path, vec_id FROM kstale
         |  UNION ALL SELECT 'rekeyed2', vec_id FROM k2
         |)
         |SELECT path, CAST(floor(vec_id / 20000) AS BIGINT) AS class,
         |  count(*) AS n_kept, CAST(sum(vec_id) AS BIGINT) AS sum_ids
         |FROM un GROUP BY path, class ORDER BY path, class""".stripMargin
    },

    // the lifecycle loop: day-1 gate under the stale quantizer (cells
    // over cap → QUALIFY drops them → replicas pass), re-key = fresh
    // assignment of the SAME prior under the grown quantizer, advance
    // with day-1 acceptances, day-2 gate under the grown quantizer —
    // ids are disjoint across generations so the retention read is the
    // plain union
    "p_semdedup_rekey_loop" -> {
      val cos = cosBP
      s"""WITH allv AS (
         |  $rekeyGoldenSql
         |), prior AS (SELECT vec_id, embedding FROM allv WHERE vec_id % 3 = 1),
         |${ivfCellCtesFor("p0cap", "prior", Some(200), rekeyStaleCents)},
         |day1 AS (
         |  SELECT vec_id, embedding FROM allv
         |  WHERE vec_id % 3 = 0 AND vec_id < 1000
         |  UNION ALL
         |  SELECT vec_id + 20000, embedding FROM prior WHERE vec_id < 150
         |), ${ivfCellCtesFor("d1c", "day1", Some(200), rekeyStaleCents)},
         |f1 AS (
         |  SELECT DISTINCT b.vec_id FROM d1c b JOIN p0cap p USING (cell)
         |  WHERE $cos >= 0.999
         |), kept1 AS (
         |  SELECT vec_id, embedding FROM day1
         |  WHERE vec_id NOT IN (SELECT vec_id FROM f1)
         |), ${ivfCellCtesFor("pn", "prior", None, rekeyNewCents)},
         |${ivfCellCtesFor("k1n", "kept1", None, rekeyNewCents)},
         |g1 AS (
         |  SELECT vec_id, embedding, cell FROM pn
         |  UNION ALL
         |  SELECT vec_id, embedding, cell FROM k1n
         |), g1cap AS (
         |  SELECT * FROM g1 QUALIFY count(*) OVER (PARTITION BY cell) <= 200
         |), day2 AS (
         |  SELECT vec_id, embedding FROM allv
         |  WHERE vec_id % 3 = 0 AND vec_id >= 1000
         |  UNION ALL
         |  SELECT vec_id + 40000, embedding FROM prior
         |  WHERE vec_id >= 150 AND vec_id < 300
         |  UNION ALL
         |  SELECT vec_id + 60000, embedding FROM day1
         |  WHERE vec_id % 3 = 0 AND vec_id < 150
         |), ${ivfCellCtesFor("d2c", "day2", Some(200), rekeyNewCents)},
         |f2 AS (
         |  SELECT DISTINCT b.vec_id FROM d2c b JOIN g1cap p USING (cell)
         |  WHERE $cos >= 0.999
         |), kept2 AS (
         |  SELECT vec_id FROM day2
         |  WHERE vec_id NOT IN (SELECT vec_id FROM f2)
         |), un AS (
         |  SELECT 1 AS day, vec_id FROM kept1
         |  UNION ALL SELECT 2, vec_id FROM kept2
         |)
         |SELECT day, CAST(floor(vec_id / 20000) AS BIGINT) AS class,
         |  count(*) AS n_kept, CAST(sum(vec_id) AS BIGINT) AS sum_ids
         |FROM un GROUP BY day, class ORDER BY day, class""".stripMargin
    },

    "p_quality_clf" -> {
      val w = Similarity.planeSql(qcWeights)
      val bucket = s"(${TextOps.hash60Sql("tk")} % 64)"
      s"""WITH t AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks
         |  FROM documents WHERE doc_id < 100
         |), f AS (
         |  SELECT doc_id, list_transform(range(0, 64), b ->
         |    CAST(len(list_filter(toks, tk -> $bucket = b)) AS DOUBLE)) AS bow
         |  FROM t
         |), m AS (
         |  SELECT doc_id,
         |    list_sum(list_transform(range(1, 65), i -> bow[i] * ($w)[i])) + 0.05 AS margin
         |  FROM f
         |)
         |SELECT doc_id, round(margin, 5) AS quality_margin,
         |  CAST(margin > 0 AS BIGINT) AS kept
         |FROM m ORDER BY doc_id""".stripMargin
    },

    // learned lang-id: same char-bigram hashing, 5 literal dot products,
    // first-occurrence argmax via list_position on identical doubles
    "p_lang_clf" -> {
      val ms = lcWeights.zipWithIndex.map { case (w, k) =>
        s"list_sum(list_transform(range(1, 65), i -> bow[i] * (${Similarity.planeSql(w)})[i])) + ${0.01 * k}"
      }.mkString("[", ",\n      ", "]")
      val bucket = s"(${TextOps.hash60Sql("gm")} % 64)"
      s"""WITH t AS (
         |  SELECT doc_id, lower(text) AS s FROM documents WHERE doc_id < 100
         |), g AS (
         |  SELECT doc_id, list_transform(range(1, length(s)), i -> substr(s, i, 2)) AS grams
         |  FROM t
         |), f AS (
         |  SELECT doc_id, list_transform(range(0, 64), b ->
         |    CAST(len(list_filter(grams, gm -> $bucket = b)) AS DOUBLE)) AS bow
         |  FROM g
         |), m AS (
         |  SELECT doc_id, $ms AS ms FROM f
         |)
         |SELECT doc_id,
         |  (['de','en','es','fr','zh'])[list_position(ms, list_aggregate(ms, 'max'))]
         |    AS lang_pred,
         |  round(list_aggregate(ms, 'max'), 5) AS lang_margin
         |FROM m ORDER BY doc_id""".stripMargin
    },

    "p_lang_id" ->
      s"""WITH t AS (
         |  SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE doc_id < 100
         |), r AS (
         |  SELECT doc_id,
         |    CAST(len(list_filter(t, x -> list_contains($stopListSql, x))) AS DOUBLE) /
         |      greatest(len(t), 1) AS ratio
         |  FROM t
         |)
         |SELECT doc_id, round(ratio, 5) AS en_ratio,
         |  CASE WHEN ratio > 0.05 THEN 'en' ELSE 'other' END AS guess
         |FROM r ORDER BY doc_id""".stripMargin,

    "p_quality" ->
      s"""WITH t AS (
         |  SELECT doc_id, text, string_split(text, ' ') AS t
         |  FROM documents WHERE doc_id < 100
         |), f AS (
         |  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
         |    least(CAST(len(t) AS DOUBLE) / 64.0, 1.0) AS len_score,
         |    CASE WHEN CAST(length(text) AS DOUBLE) / greatest(len(t), 1) >= 3.0
         |      AND CAST(length(text) AS DOUBLE) / greatest(len(t), 1) <= 10.0
         |      THEN 1.0 ELSE 0.5 END AS tok_len_score,
         |    least(CAST(len(list_filter(t, x -> list_contains($stopListSql, x))) AS DOUBLE) /
         |      greatest(len(t), 1) * 5.0, 1.0) AS stop_score
         |  FROM t
         |)
         |SELECT doc_id, n_tokens,
         |  round(len_score * 0.4 + tok_len_score * 0.3 + stop_score * 0.3, 5) AS quality
         |FROM f ORDER BY doc_id""".stripMargin,

    "p_token_stats" ->
      """WITH toks AS (
        |  SELECT lang, doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
        |)
        |SELECT lang, count(DISTINCT doc_id) AS n_docs, count(*) AS n_tokens,
        |  count(DISTINCT tok) AS n_distinct
        |FROM toks GROUP BY lang ORDER BY lang""".stripMargin,

    "p_fingerprint" ->
      s"""WITH t AS (
         |  SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE doc_id < 100
         |)
         |SELECT doc_id,
         |  CAST(list_sum(list_transform(range(1, len(t) + 1),
         |    i -> ((${h60("t[i]")}) % 2147483647) * i)) % 2147483647 AS BIGINT) AS fp
         |FROM t ORDER BY doc_id""".stripMargin,

    "p_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
        |), tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
        |), df AS (
        |  SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1
        |), n AS (SELECT count(*) AS n FROM documents)
        |SELECT term,
        |  sum(CAST(round(CAST(tf AS DOUBLE) * ln(CAST(n.n AS DOUBLE) / CAST(df.df AS DOUBLE)) * 10000.0) AS BIGINT)) / 10000.0 AS tfidf
        |FROM tf JOIN df USING (term) CROSS JOIN n
        |GROUP BY term ORDER BY tfidf DESC, term LIMIT 20""".stripMargin,

    "p_embed_norm" ->
      s"""SELECT label, count(*) AS n,
         |  round(sum(CAST(round(sqrt(${Similarity.dotSql("embedding", "embedding", 64)}) * 100000.0) AS BIGINT)) / 100000.0 / count(*), 5) AS avg_norm
         |FROM embeddings GROUP BY label ORDER BY label""".stripMargin,

    "p_multimodal_meta" ->
      s"""WITH p AS (
         |  SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS nb
         |  FROM documents WHERE doc_id < 100
         |), h AS (
         |  SELECT doc_id, CAST(nb AS BIGINT) AS n_bytes, ${h60("hx")} AS checksum FROM p
         |)
         |SELECT doc_id, n_bytes, checksum,
         |  round(CAST((checksum >> 0) & 255 AS DOUBLE) / 255.0, 5) AS e0
         |FROM h ORDER BY doc_id""".stripMargin,

    // closed forms of the WAV fixture's decoded features (square wave:
    // every sample is ±amplitude ⇒ rms = amplitude exactly; sign flips at
    // multiples of the half-period ⇒ zc = (n−1) // halfPeriod)
    "p_wav_decode" ->
      """SELECT doc_id,
        |  8000 + (doc_id % 3) * 4000 AS sample_rate,
        |  64 + (doc_id % 32) AS n_samples,
        |  round(CAST(1000 + (doc_id % 7) * 500 AS DOUBLE), 4) AS rms,
        |  (64 + (doc_id % 32) - 1) // (2 + doc_id % 5) AS zero_crossings,
        |  round(1000.0 * (64 + doc_id % 32) / (8000 + (doc_id % 3) * 4000), 4) AS duration_ms
        |FROM documents WHERE doc_id < 100 ORDER BY doc_id""".stripMargin,

    // mean channel intensities of the BMP fixture's gradient, recomputed
    // over the same (x, y) grid via lateral range expansion
    "p_bmp_decode" ->
      """WITH sub AS (
        |  SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h
        |  FROM documents WHERE doc_id < 100
        |), px AS (
        |  SELECT doc_id, w, h, tx.x AS x, ty.y AS y
        |  FROM sub
        |  CROSS JOIN LATERAL (SELECT unnest(range(0, w)) AS x) tx
        |  CROSS JOIN LATERAL (SELECT unnest(range(0, h)) AS y) ty
        |)
        |SELECT doc_id, w AS width, h AS height,
        |  round(CAST(sum((x*7 + y*13 + 3*doc_id) % 256) AS DOUBLE) / (w*h), 4) AS mean_r,
        |  round(CAST(sum((x*3 + y*5 + 5*doc_id) % 256) AS DOUBLE) / (w*h), 4) AS mean_g,
        |  round(CAST(sum((x*11 + y*2 + 7*doc_id) % 256) AS DOUBLE) / (w*h), 4) AS mean_b
        |FROM px GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin,

    // JPEG fixture: constant per 8×8 block ⇒ bit-exact decode; the mean
    // over pixels equals the mean over the (bx, by) block grid. Spark's
    // mean divides 64·S by 64·N — IEEE division of identical ratios, so
    // the doubles agree exactly before round()
    "p_jpeg_decode" ->
      """WITH sub AS (
        |  SELECT doc_id, 2 + doc_id % 3 AS bw, 1 + doc_id % 2 AS bh
        |  FROM documents WHERE doc_id < 100
        |), px AS (
        |  SELECT doc_id, bw, bh, tx.x AS bx, ty.y AS by
        |  FROM sub
        |  CROSS JOIN LATERAL (SELECT unnest(range(0, bw)) AS x) tx
        |  CROSS JOIN LATERAL (SELECT unnest(range(0, bh)) AS y) ty
        |)
        |SELECT doc_id, 8 * bw AS width, 8 * bh AS height,
        |  round(CAST(sum((bx*31 + by*17 + 5*doc_id) % 256) AS DOUBLE) / (bw*bh), 4) AS mean_y
        |FROM px GROUP BY doc_id, bw, bh ORDER BY doc_id""".stripMargin,

    // MP3 fixture closed forms: CBR stream of 5+(id%6) MPEG1-L3 frames,
    // duration = n·1152/rate
    "p_mp3_meta" ->
      """WITH sub AS (
        |  SELECT doc_id,
        |    CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000 ELSE 32000 END AS sr,
        |    CASE doc_id % 5 WHEN 0 THEN 128 WHEN 1 THEN 160 WHEN 2 THEN 192
        |                    WHEN 3 THEN 224 ELSE 256 END AS br,
        |    5 + doc_id % 6 AS n
        |  FROM documents WHERE doc_id < 100
        |)
        |SELECT doc_id, sr AS sample_rate, n AS n_frames, 1 AS is_cbr,
        |  round(CAST(br AS DOUBLE), 4) AS avg_bitrate_kbps,
        |  round(CAST(n AS DOUBLE) * 1152 * 1000.0 / sr, 4) AS duration_ms
        |FROM sub ORDER BY doc_id""".stripMargin,

    // URL canonicalization: identical regex chain in DuckDB (tracking
    // strip needs the explicit 'g' flag; Spark replaces globally).
    // Null-key semantics replayed explicitly — the engine's left_anti
    // KEEPS a null key while a bare NOT IN would drop it (and a null in
    // the pk set would drop EVERYTHING), so the kept-filter spells
    // `k IS NULL OR k NOT IN (non-null keys)` and the within-batch
    // window salts null-key partitions by doc_id (each null-url row its
    // own partition — pass through, never collapsed)
    "p_incr_url" ->
      s"""WITH fx AS (
         |  SELECT doc_id, lang, $urlFixtureSql AS url FROM documents
         |), prior AS (
         |  SELECT * FROM fx WHERE doc_id % 3 = 1
         |  UNION ALL
         |  SELECT doc_id + 90000, lang, NULL FROM fx
         |  WHERE doc_id % 3 = 1 AND doc_id < 60
         |), batch AS (
         |  SELECT doc_id, lang, url FROM fx WHERE doc_id % 3 = 0
         |  UNION ALL
         |  SELECT doc_id + 20000, lang, url FROM prior WHERE doc_id < 150
         |  UNION ALL
         |  SELECT doc_id + 40000, lang, url || '#extra' FROM prior
         |  WHERE doc_id >= 150 AND doc_id < 250
         |  UNION ALL
         |  SELECT doc_id + 60000, lang, url || '#dup' FROM fx
         |  WHERE doc_id % 3 = 0 AND doc_id < 150
         |  UNION ALL
         |  SELECT doc_id + 80000, lang, NULL FROM fx
         |  WHERE doc_id % 3 = 0 AND doc_id < 120
         |), bk AS (
         |  SELECT doc_id, lang, md5(${normUrlSql("url")}) AS k FROM batch
         |), pk AS (
         |  SELECT DISTINCT md5(${normUrlSql("url")}) AS k FROM prior
         |  WHERE url IS NOT NULL
         |), dedup AS (
         |  SELECT doc_id, lang, k FROM (
         |    SELECT doc_id, lang, k,
         |      row_number() OVER (
         |        PARTITION BY k,
         |          CASE WHEN k IS NULL THEN CAST(doc_id AS VARCHAR) ELSE '' END
         |        ORDER BY doc_id) AS rn
         |    FROM bk) WHERE rn = 1
         |), kept AS (
         |  SELECT doc_id, lang FROM dedup
         |  WHERE k IS NULL OR k NOT IN (SELECT k FROM pk)
         |)
         |SELECT lang, count(*) AS n_new, CAST(sum(doc_id) AS BIGINT) AS sum_ids
         |FROM kept GROUP BY lang ORDER BY lang""".stripMargin,

    "p_url_normalize" ->
      (s"""WITH fx AS (
        |  SELECT doc_id, $urlFixtureSql AS url
        |  FROM documents
        |), n AS (
        |  SELECT doc_id,
        |    ${normUrlSql("url")} AS norm_url,
        |    regexp_replace(regexp_replace(
        |      lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)),
        |      ':\\d+$$', ''), '^www\\.', '') AS domain
        |  FROM fx
        |)
        |SELECT doc_id, norm_url, domain,
        |  ${graft.ext.UrlOps.registeredDomainSql("domain").replace("\n", "\n        |  ")} AS reg_domain
        |FROM n ORDER BY doc_id""").stripMargin,

    // URL dedup: canonicalize (same regex chain) then min-id per group
    "p_url_dedup" ->
      s"""WITH fx AS (
        |  SELECT doc_id,
        |    'HTTPS://WWW.Example.COM/Page/' || (doc_id % 250) ||
        |    CASE WHEN doc_id % 2 = 0
        |         THEN '?utm_source=feed&utm_term=' || doc_id ELSE '' END ||
        |    CASE WHEN doc_id % 5 = 0 THEN '#top' ELSE '' END AS url
        |  FROM documents
        |), n AS (
        |  SELECT doc_id,
        |    ${normUrlSql("url")} AS nu
        |  FROM fx
        |), k AS (
        |  SELECT nu, min(doc_id) AS keep FROM n GROUP BY nu
        |)
        |SELECT CAST(count(*) AS BIGINT) AS n_kept,
        |  CAST(sum(keep) AS BIGINT) AS sum_ids
        |FROM k""".stripMargin,

    // per-domain cap: same deterministic row_number, QUALIFY-free form
    "p_domain_cap" ->
      (s"""WITH fx AS (
        |  SELECT doc_id, $urlFixtureSql AS url
        |  FROM documents
        |), d AS (
        |  SELECT doc_id,
        |    regexp_replace(regexp_replace(
        |      lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)),
        |      ':\\d+$$', ''), '^www\\.', '') AS domain
        |  FROM fx
        |), k AS (
        |  SELECT doc_id, domain,
        |    row_number() OVER (PARTITION BY domain ORDER BY doc_id) AS rn
        |  FROM d
        |)
        |SELECT domain, CAST(count(*) AS BIGINT) AS n_kept,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM k WHERE rn <= 7 GROUP BY domain ORDER BY domain""").stripMargin,

    "p_domain_cap_salted" ->
      (s"""WITH fx AS (
        |  SELECT doc_id, $urlFixtureSql AS url
        |  FROM documents
        |), d AS (
        |  SELECT doc_id,
        |    regexp_replace(regexp_replace(
        |      lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)),
        |      ':\\d+$$', ''), '^www\\.', '') AS domain
        |  FROM fx
        |), k AS (
        |  SELECT doc_id, domain,
        |    row_number() OVER (PARTITION BY domain ORDER BY doc_id) AS rn
        |  FROM d
        |)
        |SELECT domain, CAST(count(*) AS BIGINT) AS n_kept,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM k WHERE rn <= 7 GROUP BY domain ORDER BY domain""").stripMargin,

    "p_domain_holdout" ->
      (s"""WITH fx AS (
        |  SELECT doc_id, $urlFixtureSql AS url
        |  FROM documents
        |), d AS (
        |  SELECT doc_id,
        |    regexp_replace(regexp_replace(
        |      lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)),
        |      ':\\d+$$', ''), '^www\\.', '') AS domain
        |  FROM fx
        |), r AS (
        |  SELECT doc_id,
        |    ${graft.ext.UrlOps.registeredDomainSql("domain").replace("\n", "\n        |    ")} AS reg_domain
        |  FROM d
        |), s AS (
        |  SELECT doc_id, reg_domain,
        |    CASE WHEN ${graft.ext.TextOps.hash60Sql("reg_domain || '#ho1'")} % 1000 < 200
        |         THEN 'val' ELSE 'train' END AS split
        |  FROM r
        |)
        |SELECT split, reg_domain, count(*) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM s GROUP BY split, reg_domain ORDER BY split, reg_domain""").stripMargin,

    // temperature sampling: stratum-ordered weight sum via list_sum,
    // micro-rate round-half-up, md5-coin identical to hashFraction
    "p_temperature_sample" ->
      (s"""WITH c AS (
        |  SELECT lang, count(*) AS n FROM documents GROUP BY lang
        |), a AS (
        |  SELECT sum(n) AS total,
        |    list_sum(list(pow(n, 0.5) ORDER BY lang)) AS wsum
        |  FROM c
        |), r AS (
        |  SELECT lang, n,
        |    CAST(round(least(1.0, 0.5 * a.total * (pow(n, 0.5) / a.wsum) / n)
        |      * 1e6) AS BIGINT) AS rate_micro
        |  FROM c, a
        |), k AS (
        |  SELECT d.lang, count(*) AS cnt
        |  FROM documents d JOIN r ON d.lang = r.lang
        |  WHERE ${h60("concat(CAST(doc_id AS VARCHAR), '_temp')")} /
        |        1152921504606846976.0 < r.rate_micro / 1e6
        |  GROUP BY d.lang
        |)
        |SELECT r.lang, CAST(r.n AS BIGINT) AS n_docs, r.rate_micro,
        |  CAST(coalesce(k.cnt, 0) AS BIGINT) AS n_kept
        |FROM r LEFT JOIN k ON r.lang = k.lang
        |ORDER BY r.lang""").stripMargin,

    // corpus profile: same two aggregates
    "p_corpus_stats" ->
      """WITH d AS (
        |  SELECT doc_id, lang, text, string_split(text, ' ') AS t,
        |    md5(text) AS h
        |  FROM documents
        |), dup AS (
        |  SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS n_dup_docs FROM (
        |    SELECT count(*) AS c FROM d GROUP BY h HAVING count(*) >= 2)
        |)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(t)) AS BIGINT) AS n_tokens,
        |  CAST(sum(length(text)) AS BIGINT) AS n_chars,
        |  round(avg(len(t)), 4) AS avg_tokens,
        |  (SELECT n_dup_docs FROM dup) AS n_dup_docs
        |FROM d GROUP BY lang ORDER BY lang""".stripMargin,

    // chunking: k in [0, (n-1)//stride], 1-based list slice per chunk
    "p_chunk_text" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS t, len(string_split(text, ' ')) AS n
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, u.k AS chunk_id,
        |    t[u.k * 24 + 1 : least(u.k * 24 + 32, n)] AS chunk
        |  FROM t
        |  CROSS JOIN LATERAL (SELECT unnest(range(0, ((n - 1) // 24) + 1)) AS k) u
        |  WHERE n > 0
        |)
        |SELECT doc_id, chunk_id,
        |  CAST(len(chunk) AS BIGINT) AS n_chunk_tokens,
        |  md5(coalesce(array_to_string(chunk, ' '), '')) AS chunk_md5
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,

    // HTML strip: identical regex chain (dotall inline flag, decode
    // after tag-strip), string compared verbatim
    "p_html_strip" ->
      """WITH fx AS (
        |  SELECT doc_id,
        |    '<html><head><style>p { color: red }</style><!-- note --></head>' ||
        |    '<body><h1>Title ' || (doc_id % 100) ||
        |    '</h1><p>First &amp; second &lt;tag&gt;.</p>' ||
        |    '<script>var x = 1 < 2;</script>' ||
        |    '<SCRIPT type="text/javascript">var y = 2;</SCRIPT>' ||
        |    '<Style>h1 { top: 0 }</Style><p>' ||
        |    substr(text, 1, 30) || '.</p></body></html>' AS html
        |  FROM documents
        |), s AS (
        |  SELECT doc_id,
        |    regexp_replace(
        |      regexp_replace(html,
        |        '(?is)(<script\b.*?</script>|<style\b.*?</style>|<!--.*?-->)',
        |        '', 'g'),
        |      '<[^>]*>', ' ', 'g') AS t1
        |  FROM fx
        |), d AS (
        |  SELECT doc_id,
        |    replace(replace(replace(replace(replace(replace(t1,
        |      '&nbsp;', ' '), '&quot;', '"'), '&#39;', chr(39)),
        |      '&lt;', '<'), '&gt;', '>'), '&amp;', '&') AS t2
        |  FROM s
        |)
        |SELECT doc_id,
        |  trim(regexp_replace(t2, '[ \t]+', ' ', 'g')) AS stripped
        |FROM d ORDER BY doc_id""".stripMargin,

    // sentence segmentation: same lookaround-free pattern
    "p_sentence_split" ->
      """WITH fx AS (
        |  SELECT doc_id,
        |    'First sentence here. Second one! Third? trailing bit id ' ||
        |    (doc_id % 7) AS t
        |  FROM documents
        |), s AS (
        |  SELECT doc_id,
        |    list_filter(
        |      list_transform(regexp_extract_all(t, '[^.!?]+[.!?]+'),
        |        x -> trim(x)),
        |      x -> x <> '') AS sents
        |  FROM fx
        |)
        |SELECT doc_id, CAST(len(sents) AS BIGINT) AS n_sentences,
        |  md5(coalesce(array_to_string(sents, '|'), '')) AS sent_md5
        |FROM s ORDER BY doc_id""".stripMargin,

    // full cleaning composition: every stage's proven SQL fragment
    // chained — nfc/regex fixing, C4 lambda filter, redaction chain,
    // then the hash-counted paragraph dedup over the survivors
    "p_clean_pipeline" ->
      (s"""WITH fx AS (
        |  SELECT doc_id, $pageFixtureSql || chr(10) ||
        |    substr(text, 1, 40) || ' stays unique today.' AS t0
        |  FROM documents
        |), f AS (
        |  SELECT doc_id,
        |    nfc_normalize(trim(regexp_replace(regexp_replace(t0,
        |      '${Cleaning.ControlRe}', '', 'g'),
        |      '[ \\t]+', ' ', 'g'))) AS t
        |  FROM fx
        |), k AS (
        |  SELECT doc_id, t,
        |    list_filter(string_split(t, chr(10)), l ->
        |      right(rtrim(l, ' ' || chr(9) || chr(13)), 1) IN ('.', '!', '?', '"')
        |      AND len(string_split(rtrim(l, ' ' || chr(9) || chr(13)), ' ')) >= 5
        |      AND NOT contains(lower(l), 'javascript')) AS kept
        |  FROM f
        |), surv AS (
        |  SELECT doc_id, array_to_string(kept, chr(10)) AS ct
        |  FROM k
        |  WHERE len(kept) >= 3 AND NOT contains(lower(t), 'lorem ipsum')
        |    AND NOT contains(t, '{')
        |), red AS (
        |  SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(ct,
        |      '${Cleaning.EmailRe}', '[EMAIL]', 'g'),
        |      '${Cleaning.PhoneRe}', '[PHONE]', 'g'),
        |      '${Cleaning.Ipv4Re}', '[IP]', 'g') AS rt
        |  FROM surv
        |), ls AS (
        |  SELECT doc_id, string_split(rt, chr(10)) AS l FROM red
        |), paras AS (
        |  SELECT doc_id, u.pos, l[u.pos] AS para
        |  FROM ls
        |  CROSS JOIN LATERAL (SELECT unnest(range(1, len(l) + 1)) AS pos) u
        |), ph AS (
        |  SELECT doc_id, pos, para,
        |    ${h60("para")} AS h,
        |    trim(para) = '' AS blank
        |  FROM paras
        |), dup AS (
        |  SELECT h FROM ph WHERE NOT blank GROUP BY h HAVING count(*) >= 2
        |), j AS (
        |  SELECT p.*, (d.h IS NOT NULL) AS isdup0
        |  FROM ph p LEFT JOIN dup d ON p.h = d.h
        |)
        |SELECT doc_id,
        |  CAST(count(*) AS BIGINT) AS n_paras,
        |  CAST(sum(CASE WHEN NOT blank AND isdup0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dup_paras,
        |  md5(coalesce(string_agg(
        |    CASE WHEN blank OR NOT isdup0 THEN para END, chr(10) ORDER BY pos),
        |    '')) AS clean_md5
        |FROM j GROUP BY doc_id ORDER BY doc_id""").stripMargin,

    // temperature mix: unclamped rates, whole copies + fractional coin
    "p_temperature_mix" ->
      (s"""WITH c AS (
        |  SELECT lang, count(*) AS n FROM documents GROUP BY lang
        |), a AS (
        |  SELECT sum(n) AS total,
        |    list_sum(list(pow(n, 0.3) ORDER BY lang)) AS wsum
        |  FROM c
        |), r AS (
        |  SELECT lang, n,
        |    CAST(round(1.0 * a.total * (pow(n, 0.3) / a.wsum) / n * 1e6)
        |      AS BIGINT) AS rate_micro
        |  FROM c, a
        |), e AS (
        |  SELECT d.lang, d.doc_id, r.rate_micro,
        |    r.rate_micro // 1000000 +
        |    CASE WHEN (${h60("concat(CAST(doc_id AS VARCHAR), '_mix')")} /
        |               1152921504606846976.0) * 1e6 < r.rate_micro % 1000000
        |         THEN 1 ELSE 0 END AS nc
        |  FROM documents d JOIN r ON d.lang = r.lang
        |), k AS (
        |  SELECT lang, sum(nc) AS n_rows,
        |    count(CASE WHEN nc > 0 THEN 1 END) AS n_docs_kept
        |  FROM e GROUP BY lang
        |)
        |SELECT r.lang, CAST(r.n AS BIGINT) AS n_docs, r.rate_micro,
        |  CAST(coalesce(k.n_rows, 0) AS BIGINT) AS n_rows,
        |  CAST(coalesce(k.n_docs_kept, 0) AS BIGINT) AS n_docs_kept
        |FROM r LEFT JOIN k ON r.lang = k.lang
        |ORDER BY r.lang""").stripMargin,

    // paragraph dedup: zipped unnests give (pos, para), hash60 counts
    // duplicate slots, string_agg(ORDER BY pos) rebuilds the page
    "p_para_dedup" ->
      (s"""WITH fx AS (
        |  SELECT doc_id, concat_ws(chr(10),
        |    'Subscribe to our newsletter today!',
        |    'Group slogan number ' || (doc_id % 50),
        |    '',
        |    text,
        |    'Unique marker ' || doc_id) AS t
        |  FROM documents
        |), ls AS (
        |  SELECT doc_id, string_split(t, chr(10)) AS l FROM fx
        |), paras AS (
        |  SELECT doc_id, u.pos, l[u.pos] AS para
        |  FROM ls
        |  CROSS JOIN LATERAL (SELECT unnest(range(1, len(l) + 1)) AS pos) u
        |), ph AS (
        |  SELECT doc_id, pos, para,
        |    ${h60("para")} AS h,
        |    trim(para) = '' AS blank
        |  FROM paras
        |), dup AS (
        |  SELECT h FROM ph WHERE NOT blank GROUP BY h HAVING count(*) >= 2
        |), j AS (
        |  SELECT p.*, (d.h IS NOT NULL) AS isdup0
        |  FROM ph p LEFT JOIN dup d ON p.h = d.h
        |)
        |SELECT doc_id,
        |  CAST(count(*) AS BIGINT) AS n_paras,
        |  CAST(sum(CASE WHEN NOT blank AND isdup0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dup_paras,
        |  md5(coalesce(string_agg(
        |    CASE WHEN blank OR NOT isdup0 THEN para END, chr(10) ORDER BY pos),
        |    '')) AS clean_md5
        |FROM j GROUP BY doc_id ORDER BY doc_id""").stripMargin,

    "p_crawl_para" ->
      """WITH d AS (SELECT doc_id, text FROM documents),
        |day1 AS (
        |  SELECT doc_id, concat_ws(chr(10),
        |    'Subscribe to our newsletter today!',
        |    'Slogan number ' || (doc_id % 40),
        |    text, '', 'Unique closer ' || doc_id) AS t
        |  FROM d WHERE doc_id % 3 = 1
        |), d2src AS (
        |  SELECT doc_id, text FROM d WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT doc_id + 20000, text FROM d
        |  WHERE doc_id % 3 = 1 AND doc_id < 150
        |), day2 AS (
        |  SELECT doc_id, concat_ws(chr(10),
        |    'Subscribe to our newsletter today!',
        |    'Slogan number ' || (doc_id % 40),
        |    text, '', 'Unique closer ' || doc_id) AS t
        |  FROM d2src
        |), k0g AS (
        |  SELECT md5(u.para) AS k, 0 AS g
        |  FROM (SELECT string_split(t, chr(10)) AS l FROM day1) ls
        |  CROSS JOIN LATERAL (SELECT unnest(l) AS para) u
        |  WHERE trim(u.para) <> ''
        |), ret0 AS (SELECT k FROM (SELECT k, max(g) AS g FROM k0g GROUP BY k)
        |            WHERE g >= 0),
        |ret1 AS (SELECT k FROM (SELECT k, max(g) AS g FROM k0g GROUP BY k)
        |         WHERE g >= 1),
        |paras AS (
        |  SELECT doc_id, u.pos, l[u.pos] AS para
        |  FROM (SELECT doc_id, string_split(t, chr(10)) AS l FROM day2) ls
        |  CROSS JOIN LATERAL (SELECT unnest(range(1, len(l)+1)) AS pos) u
        |), j AS (
        |  SELECT p.doc_id, p.pos, p.para, trim(p.para) = '' AS blank,
        |    (r0.k IS NOT NULL) AS s0, (r1.k IS NOT NULL) AS s1
        |  FROM paras p
        |  LEFT JOIN ret0 r0 ON md5(p.para) = r0.k
        |  LEFT JOIN ret1 r1 ON md5(p.para) = r1.k
        |), strip0 AS (
        |  SELECT 'retain0' AS policy, doc_id,
        |    CAST(count(*) AS BIGINT) AS n_paras,
        |    CAST(sum(CASE WHEN NOT blank AND s0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_seen_paras,
        |    md5(coalesce(string_agg(
        |      CASE WHEN blank OR NOT s0 THEN para END, chr(10) ORDER BY pos),
        |      '')) AS clean_md5
        |  FROM j GROUP BY doc_id
        |), strip1 AS (
        |  SELECT 'aged' AS policy, doc_id,
        |    CAST(count(*) AS BIGINT) AS n_paras,
        |    CAST(sum(CASE WHEN NOT blank AND s1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_seen_paras,
        |    md5(coalesce(string_agg(
        |      CASE WHEN blank OR NOT s1 THEN para END, chr(10) ORDER BY pos),
        |      '')) AS clean_md5
        |  FROM j GROUP BY doc_id
        |)
        |SELECT * FROM strip0 UNION ALL SELECT * FROM strip1
        |ORDER BY policy, doc_id""".stripMargin,

    // C4 cleaning: identical fixture + line predicate in DuckDB lambda
    // form; page md5 pins the exact surviving text
    "p_c4_clean" ->
      (s"""WITH fx AS (
        |  SELECT doc_id, $pageFixtureSql AS t
        |  FROM documents
        |), k AS (
        |  SELECT doc_id, t,
        |    list_filter(string_split(t, chr(10)), l ->
        |      right(rtrim(l, ' ' || chr(9) || chr(13)), 1) IN ('.', '!', '?', '"')
        |      AND len(string_split(rtrim(l, ' ' || chr(9) || chr(13)), ' ')) >= 5
        |      AND NOT contains(lower(l), 'javascript')) AS kept
        |  FROM fx
        |)
        |SELECT doc_id,
        |  CAST(len(string_split(t, chr(10))) AS BIGINT) AS n_lines,
        |  CAST(len(kept) AS BIGINT) AS n_kept,
        |  CAST(CASE WHEN len(kept) >= 3 AND NOT contains(lower(t), 'lorem ipsum')
        |            AND NOT contains(t, '{') THEN 1 ELSE 0 END AS BIGINT) AS page_keep,
        |  md5(CASE WHEN len(kept) >= 3 AND NOT contains(lower(t), 'lorem ipsum')
        |           AND NOT contains(t, '{')
        |      THEN array_to_string(kept, chr(10)) ELSE '' END) AS clean_md5
        |FROM k ORDER BY doc_id""").stripMargin,

    // text fixing: the same control-strip and whitespace-collapse
    // regexes, then utf8proc nfc_normalize LAST (mirrors fixText's
    // idempotent order); chr(769)=U+0301, chr(7)=BEL. The
    // O+BEL+U+0301 fragment pins the ORDER: NFC-last composes the
    // newly-adjacent pair (1 char), NFC-first leaves it decomposed —
    // fixed_len and fixed_md5 both flip if the order regresses.
    "p_fix_text" ->
      (s"""WITH fx AS (
        |  SELECT doc_id,
        |    ' Cafe' || chr(769) || '  du' || chr(9) || chr(9) ||
        |    'Marche' || chr(769) || ' ' || substr(text, 1, 20) ||
        |    ' end' || chr(7) || 'bell O' || chr(7) || chr(769) || 'k ' ||
        |    (doc_id % 10) AS raw
        |  FROM documents
        |), f AS (
        |  SELECT doc_id,
        |    nfc_normalize(trim(regexp_replace(regexp_replace(raw,
        |      '${Cleaning.ControlRe}', '', 'g'),
        |      '[ \\t]+', ' ', 'g'))) AS fixed
        |  FROM fx
        |)
        |SELECT doc_id, CAST(length(fixed) AS BIGINT) AS fixed_len,
        |  md5(fixed) AS fixed_md5
        |FROM f ORDER BY doc_id""").stripMargin,

    // PII redaction: same regexes (no lookaround/backrefs — Java∩RE2),
    // DuckDB needs the explicit 'g' flag for global replace
    "p_pii_redact" ->
      (s"""WITH fx AS (
        |  SELECT doc_id, $pageFixtureSql AS t
        |  FROM documents
        |)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t, '${Cleaning.EmailRe}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(t, '${Cleaning.PhoneRe}')) AS BIGINT) AS n_phones,
        |  CAST(len(regexp_extract_all(t, '${Cleaning.Ipv4Re}')) AS BIGINT) AS n_ips,
        |  md5(regexp_replace(regexp_replace(regexp_replace(t,
        |      '${Cleaning.EmailRe}', '[EMAIL]', 'g'),
        |      '${Cleaning.PhoneRe}', '[PHONE]', 'g'),
        |      '${Cleaning.Ipv4Re}', '[IP]', 'g')) AS redacted_md5
        |FROM fx ORDER BY doc_id""").stripMargin,

    // GIF fixture: palette color of index (x·3+y·5+id)%16 — lossless
    // decode ⇒ exact means over the indexed gradient
    "p_gif_decode" ->
      """WITH sub AS (
        |  SELECT doc_id, 6 + doc_id % 5 AS w, 3 + doc_id % 4 AS h
        |  FROM documents WHERE doc_id < 100
        |), px AS (
        |  SELECT doc_id, w, h, (tx.x * 3 + ty.y * 5 + doc_id) % 16 AS c
        |  FROM sub
        |  CROSS JOIN LATERAL (SELECT unnest(range(0, w)) AS x) tx
        |  CROSS JOIN LATERAL (SELECT unnest(range(0, h)) AS y) ty
        |)
        |SELECT doc_id, w AS width, h AS height,
        |  round(CAST(sum((c*17 + doc_id) % 256) AS DOUBLE) / (w*h), 4) AS mean_r,
        |  round(CAST(sum((c*29 + 2*doc_id) % 256) AS DOUBLE) / (w*h), 4) AS mean_g,
        |  round(CAST(sum((c*43 + 3*doc_id) % 256) AS DOUBLE) / (w*h), 4) AS mean_b
        |FROM px GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin,

    // bilinear interpolation over the PNG gradient recomputed exactly:
    // all coordinates are dyadic rationals (integer w over 4), so every
    // intermediate double is exact in both engines and floor(v+0.5)
    // lands on identical integers
    "p_image_resize" ->
      """WITH sub AS (
        |  SELECT doc_id, 5 + doc_id % 6 AS w, 4 + doc_id % 3 AS h
        |  FROM documents WHERE doc_id < 100
        |), t AS (
        |  SELECT doc_id, w, h, tt.px AS px, tt.px % 4 AS tx, tt.px // 4 AS ty
        |  FROM sub CROSS JOIN LATERAL (SELECT unnest(range(0, 16)) AS px) tt
        |), c AS (
        |  SELECT doc_id, w, h, px,
        |    greatest(0.0, least(w - 1.0, (tx + 0.5) * w / 4.0 - 0.5)) AS sx,
        |    greatest(0.0, least(h - 1.0, (ty + 0.5) * h / 4.0 - 0.5)) AS sy
        |  FROM t
        |), d AS (
        |  SELECT doc_id, w, h, px,
        |    CAST(floor(sx) AS BIGINT) AS x0,
        |    least(CAST(floor(sx) AS BIGINT) + 1, w - 1) AS x1,
        |    CAST(floor(sy) AS BIGINT) AS y0,
        |    least(CAST(floor(sy) AS BIGINT) + 1, h - 1) AS y1,
        |    sx - floor(sx) AS fx, sy - floor(sy) AS fy
        |  FROM c
        |)
        |SELECT doc_id, px,
        |  CAST(floor((1-fy)*((1-fx)*((x0*5 + y0*11 + 3*doc_id) % 256) + fx*((x1*5 + y0*11 + 3*doc_id) % 256))
        |     + fy*((1-fx)*((x0*5 + y1*11 + 3*doc_id) % 256) + fx*((x1*5 + y1*11 + 3*doc_id) % 256)) + 0.5) AS BIGINT) AS r,
        |  CAST(floor((1-fy)*((1-fx)*((x0*13 + y0*3 + 5*doc_id) % 256) + fx*((x1*13 + y0*3 + 5*doc_id) % 256))
        |     + fy*((1-fx)*((x0*13 + y1*3 + 5*doc_id) % 256) + fx*((x1*13 + y1*3 + 5*doc_id) % 256)) + 0.5) AS BIGINT) AS g,
        |  CAST(floor((1-fy)*((1-fx)*((x0*2 + y0*7 + 7*doc_id) % 256) + fx*((x1*2 + y0*7 + 7*doc_id) % 256))
        |     + fy*((1-fx)*((x0*2 + y1*7 + 7*doc_id) % 256) + fx*((x1*2 + y1*7 + 7*doc_id) % 256)) + 0.5) AS BIGINT) AS b
        |FROM d ORDER BY doc_id, px""".stripMargin,

    // naive O(n²) DFT of the square-wave fixture — an INDEPENDENT
    // recomputation of the Spark side's radix-2 FFT (different algorithm
    // and libm; amplitude-normalized power agrees at 4 decimals)
    "p_audio_spectrum" ->
      """WITH sub AS (
        |  SELECT doc_id, 2 + doc_id % 5 AS hp,
        |         CAST(1000 + (doc_id % 7) * 500 AS DOUBLE) AS amp
        |  FROM documents WHERE doc_id < 100
        |), smp AS (
        |  SELECT doc_id, hp, amp, tn.n AS n,
        |         CASE WHEN ((tn.n // hp) % 2) = 0 THEN amp ELSE -amp END AS s
        |  FROM sub CROSS JOIN LATERAL (SELECT unnest(range(0, 64)) AS n) tn
        |), dft AS (
        |  SELECT doc_id, tk.k AS bin, amp,
        |         sum(s * cos(2 * pi() * tk.k * n / 64.0)) AS re,
        |         sum(s * sin(-2 * pi() * tk.k * n / 64.0)) AS im
        |  FROM smp CROSS JOIN LATERAL (SELECT unnest(range(0, 33)) AS k) tk
        |  GROUP BY doc_id, tk.k, amp
        |)
        |SELECT doc_id, bin,
        |  round((re*re + im*im) / ((64.0*amp) * (64.0*amp)), 4) AS npower
        |FROM dft ORDER BY doc_id, bin""".stripMargin,

    // pinned r8: MFCC golden digest (see the query comment)
    "t_hash_mfcc" ->
      ("SELECT 100 AS n_docs, 100 AS total_frames, " +
        "'57848768426560920316' AS mfcc_checksum"),

    // pinned r8: BPE golden digest — merge-list md5 + order-independent
    // encode checksum on the SF-independent corpus (values below printed
    // by the first run, then frozen; see t_hash_* precedent)
    "t_hash_bpe" ->
      ("SELECT '3b555f877ee4f181a0a45d16b25e8174' AS merges_md5, 48 AS n_merges, " +
        "1000 AS n_docs, 10006 AS total_pieces, " +
        "'578263843954837017197' AS enc_checksum"),

    // PNG fixture gradient means recomputed exactly (lossless codec ⇒ the
    // decoded pixels ARE the gradient; same lateral-expansion shape as BMP)
    "p_png_decode" ->
      """WITH sub AS (
        |  SELECT doc_id, 5 + doc_id % 6 AS w, 4 + doc_id % 3 AS h
        |  FROM documents WHERE doc_id < 100
        |), px AS (
        |  SELECT doc_id, w, h, tx.x AS x, ty.y AS y
        |  FROM sub
        |  CROSS JOIN LATERAL (SELECT unnest(range(0, w)) AS x) tx
        |  CROSS JOIN LATERAL (SELECT unnest(range(0, h)) AS y) ty
        |)
        |SELECT doc_id, w AS width, h AS height,
        |  round(CAST(sum((x*5 + y*11 + 3*doc_id) % 256) AS DOUBLE) / (w*h), 4) AS mean_r,
        |  round(CAST(sum((x*13 + y*3 + 5*doc_id) % 256) AS DOUBLE) / (w*h), 4) AS mean_g,
        |  round(CAST(sum((x*2 + y*7 + 7*doc_id) % 256) AS DOUBLE) / (w*h), 4) AS mean_b
        |FROM px GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin,

    // AVI/MJPEG fixture: frames constant per 8×8 block ⇒ bit-exact frame
    // decode; mean over pixels equals mean over the block columns (IEEE
    // division of the same exact rational). fps survives the container's
    // integer microseconds-per-frame round-trip on both engines.
    "p_video_frames" ->
      """WITH sub AS (
        |  SELECT doc_id, 2 + doc_id % 3 AS bw, 4 + doc_id % 4 AS n,
        |         1000000 // (10 + doc_id % 5) AS uspf
        |  FROM documents WHERE doc_id < 100
        |), fr AS (
        |  SELECT doc_id, bw, n, uspf, tf.f AS f
        |  FROM sub CROSS JOIN LATERAL (SELECT unnest(range(0, n, 2)) AS f) tf
        |), px AS (
        |  SELECT doc_id, bw, n, uspf, f, tx.bx AS bx
        |  FROM fr CROSS JOIN LATERAL (SELECT unnest(range(0, bw)) AS bx) tx
        |)
        |SELECT doc_id, f AS frame_idx, n AS n_frames,
        |  round(1e6 / uspf, 4) AS fps,
        |  8 * bw AS width, 8 AS height,
        |  round(CAST(sum((bx*31 + 5*doc_id + 11*f) % 256) AS DOUBLE) / bw, 4) AS mean_y
        |FROM px GROUP BY doc_id, bw, n, uspf, f ORDER BY doc_id, frame_idx""".stripMargin,

    // distinct 5-gram overlap vs the src0 "benchmark" slice
    "p_decontaminate" ->
      """WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
        |ng AS (
        |  SELECT doc_id, source, unnest(CASE WHEN len(t) >= 5 THEN
        |    list_distinct(list_transform(range(1, len(t)-3),
        |      i -> t[i]||' '||t[i+1]||' '||t[i+2]||' '||t[i+3]||' '||t[i+4]))
        |    ELSE [] END) AS ngram
        |  FROM t
        |), bn AS (SELECT DISTINCT ngram FROM ng WHERE source = 'src0'),
        |ov AS (
        |  SELECT doc_id, count(*) AS n_overlap
        |  FROM ng JOIN bn USING (ngram) WHERE ng.source <> 'src0' GROUP BY doc_id
        |)
        |SELECT d.doc_id, CAST(coalesce(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
        |  CAST(coalesce(ov.n_overlap, 0) > 0 AS BIGINT) AS contaminated
        |FROM (SELECT doc_id FROM documents WHERE source <> 'src0') d
        |LEFT JOIN ov USING (doc_id) ORDER BY doc_id""".stripMargin,

    // Gopher repetition fractions: integer-ratio doubles rounded to 5dp,
    // keep decision evaluated on the rounded values in both engines
    "p_gopher_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |b AS (SELECT doc_id, len(t) AS n_tok FROM t),
        |g2 AS (
        |  SELECT doc_id, unnest(CASE WHEN len(t) >= 2 THEN
        |    list_transform(range(1, len(t)), i -> t[i]||' '||t[i+1])
        |    ELSE [] END) AS g
        |  FROM t),
        |c2 AS (SELECT doc_id, max(c) AS top2 FROM
        |  (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2) GROUP BY doc_id),
        |g3 AS (
        |  SELECT doc_id, unnest(CASE WHEN len(t) >= 3 THEN
        |    list_transform(range(1, len(t)-1), i -> t[i]||' '||t[i+1]||' '||t[i+2])
        |    ELSE [] END) AS g
        |  FROM t),
        |c3 AS (SELECT doc_id, sum(CASE WHEN c >= 2 THEN 3*c ELSE 0 END) AS dup3 FROM
        |  (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1, 2) GROUP BY doc_id)
        |SELECT b.doc_id, CAST(n_tok AS BIGINT) AS n_tok,
        |  round(least(coalesce(top2, 0) * 2.0 / n_tok, 1.0), 5) AS top_bigram_frac,
        |  round(least(coalesce(dup3, 0) * 1.0 / n_tok, 1.0), 5) AS dup_trigram_frac,
        |  CAST(round(least(coalesce(top2, 0) * 2.0 / n_tok, 1.0), 5) <= 0.20
        |   AND round(least(coalesce(dup3, 0) * 1.0 / n_tok, 1.0), 5) <= 0.18
        |   AS BIGINT) AS repetition_keep
        |FROM b LEFT JOIN c2 USING (doc_id) LEFT JOIN c3 USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // corpus-unigram-LM NLL in integer micro-nats (ln quantized per token
    // TYPE before the per-doc sum — order-independent integer arithmetic)
    // gopher quality: same integer-exact ratios in list-lambda form
    "p_gopher_quality" -> {
      val stopList = graft.ext.TextOps.EnStopwords.map(w => s"'$w'")
        .mkString("[", ", ", "]")
      s"""WITH t AS (
        |  SELECT doc_id, text AS t, string_split(text, ' ') AS toks,
        |    string_split(text, chr(10)) AS ls
        |  FROM documents
        |), m AS (
        |  SELECT doc_id,
        |    CAST(len(toks) AS BIGINT) AS n_words,
        |    round(CAST(list_sum(list_transform(toks, w -> length(w))) AS DOUBLE)
        |      / greatest(len(toks), 1), 5) AS mean_word_len,
        |    round(CAST((length(t) - length(replace(t, '#', ''))) +
        |      (length(t) - length(replace(t, '...', ''))) // 3 +
        |      (length(t) - length(replace(t, chr(8230), ''))) AS DOUBLE)
        |      / greatest(len(toks), 1), 5) AS symbol_ratio,
        |    round(CAST(len(list_filter(ls, l -> starts_with(l, '- ')
        |      OR starts_with(l, '* ') OR starts_with(l, chr(8226)))) AS DOUBLE)
        |      / greatest(len(ls), 1), 5) AS bullet_frac,
        |    round(CAST(len(list_filter(ls, l -> ends_with(l, '...')
        |      OR ends_with(l, chr(8230)))) AS DOUBLE)
        |      / greatest(len(ls), 1), 5) AS ellipsis_frac,
        |    round(CAST(len(list_filter(toks, w -> regexp_matches(w, '[A-Za-z]')))
        |      AS DOUBLE) / greatest(len(toks), 1), 5) AS alpha_frac,
        |    CAST(len(list_filter($stopList, sw -> list_contains(toks, sw)))
        |      AS BIGINT) AS stop_hits
        |  FROM t
        |)
        |SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_frac,
        |  ellipsis_frac, alpha_frac, stop_hits,
        |  CAST(CASE WHEN n_words >= 50 AND n_words <= 100000
        |    AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        |    AND symbol_ratio <= 0.1 AND bullet_frac <= 0.9
        |    AND ellipsis_frac <= 0.3 AND alpha_frac >= 0.8
        |    AND stop_hits >= 2 THEN 1 ELSE 0 END AS BIGINT) AS quality_keep
        |FROM m ORDER BY doc_id""".stripMargin
    },

    // ccnet buckets: the unigram-NLL fragment + per-lang ntile
    "p_ccnet_buckets" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |pd AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY 1, 2),
        |v AS (SELECT tok, sum(c) AS cnt FROM pd GROUP BY tok),
        |tot AS (SELECT sum(cnt) AS total FROM v),
        |sc AS (SELECT tok,
        |  CAST(round(ln(CAST(total AS DOUBLE) / cnt) * 1000000, 0) AS BIGINT) AS nll_micro
        |  FROM v, tot),
        |nll AS (
        |  SELECT pd.doc_id, sum(c) AS n_tokens, sum(c * nll_micro) AS nll_micro_total
        |  FROM pd JOIN sc USING (tok) GROUP BY pd.doc_id),
        |j AS (
        |  SELECT d.lang, d.doc_id,
        |    nll.nll_micro_total // nll.n_tokens AS mean_nll_micro
        |  FROM documents d JOIN nll ON d.doc_id = nll.doc_id),
        |b AS (
        |  SELECT lang, doc_id, mean_nll_micro,
        |    ntile(3) OVER (PARTITION BY lang
        |      ORDER BY mean_nll_micro ASC, doc_id ASC) AS bucket
        |  FROM j)
        |SELECT lang,
        |  CASE WHEN bucket = 1 THEN 'head' WHEN bucket = 3 THEN 'tail'
        |       ELSE 'middle' END AS tier,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
        |  CAST(min(mean_nll_micro) AS BIGINT) AS min_nll,
        |  CAST(max(mean_nll_micro) AS BIGINT) AS max_nll
        |FROM b GROUP BY lang, tier ORDER BY lang, tier""".stripMargin,

    "p_unigram_nll" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |pd AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY 1, 2),
        |v AS (SELECT tok, sum(c) AS cnt FROM pd GROUP BY tok),
        |tot AS (SELECT sum(cnt) AS total FROM v),
        |sc AS (SELECT tok,
        |  CAST(round(ln(CAST(total AS DOUBLE) / cnt) * 1000000, 0) AS BIGINT) AS nll_micro
        |  FROM v, tot)
        |SELECT pd.doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |  CAST(sum(c * nll_micro) AS BIGINT) AS nll_micro_total
        |FROM pd JOIN sc USING (tok) GROUP BY pd.doc_id ORDER BY pd.doc_id""".stripMargin,

    "p_bigram_nll" -> {
      val lam = 0.9
      // the backoff weight is emitted from the SAME Scala double the
      // Spark plan uses (1.0 - 0.9 is not the literal 0.1)
      val mix = s"$lam * cb / cctx + ${1.0 - lam} * cu / n"
      s"""WITH tok AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
         |), bg AS (
         |  SELECT doc_id,
         |    unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS g
         |  FROM tok WHERE len(toks) >= 2
         |), pd AS (
         |  SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2
         |), b AS (
         |  SELECT g, sum(c) AS cb,
         |    split_part(g, ' ', 1) AS w1, split_part(g, ' ', 2) AS w2
         |  FROM pd GROUP BY g
         |), ctx AS (
         |  SELECT w1, sum(cb) AS cctx FROM b GROUP BY w1
         |), u AS (
         |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
         |), uc AS (
         |  SELECT tok, count(*) AS cu FROM u GROUP BY tok
         |), tot AS (
         |  SELECT sum(cu) AS n FROM uc
         |), sc AS (
         |  SELECT g,
         |    CAST(round((0 - ln($mix)) * 1000000, 0) AS BIGINT) AS nll_micro
         |  FROM b JOIN ctx USING (w1) JOIN uc ON b.w2 = uc.tok, tot
         |)
         |SELECT pd.doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
         |  CAST(sum(c * nll_micro) AS BIGINT) AS nll_micro_total
         |FROM pd JOIN sc USING (g) GROUP BY pd.doc_id ORDER BY pd.doc_id""".stripMargin
    },

    // DSIR hashed-unigram importance log-weight vs the lang='en' target,
    // add-1 smoothing over 512 buckets, micro-nat quantization per bucket
    "p_dsir_weight" -> {
      val bucket = s"${h60("tok")} % 512"
      s"""WITH tok AS (
         |  SELECT doc_id, CAST(lang = 'en' AS BIGINT) AS is_t, $bucket AS b
         |  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
         |        FROM documents)
         |),
         |bc AS (SELECT b, count(*) AS raw_c, sum(is_t) AS tgt_c FROM tok GROUP BY b),
         |tt AS (SELECT sum(raw_c) AS r_tot, sum(tgt_c) AS t_tot FROM bc),
         |sc AS (SELECT b, CAST(round(ln(
         |    ((tgt_c + 1.0) / (t_tot + 512.0)) /
         |    ((raw_c + 1.0) / (r_tot + 512.0))) * 1000000, 0) AS BIGINT) AS w_micro
         |  FROM bc, tt),
         |pd AS (SELECT doc_id, b, count(*) AS c FROM tok GROUP BY 1, 2)
         |SELECT pd.doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
         |  CAST(sum(c * w_micro) AS BIGINT) AS dsir_micro
         |FROM pd JOIN sc USING (b) GROUP BY pd.doc_id ORDER BY pd.doc_id""".stripMargin
    },

    // the composed pipeline: each stage is the same SQL as its standalone
    // oracle row, chained (dedup → repetition gate → decontamination →
    // stratified sample → packing)
    "p_curation_pipeline" -> {
      val coin = h60("concat(CAST(doc_id AS VARCHAR), '_', 'strat')")
      """WITH train AS (
        |  SELECT doc_id, text, lang FROM documents WHERE source <> 'src0'
        |), uniq AS (
        |  SELECT doc_id, text, lang FROM (
        |    SELECT doc_id, text, lang,
        |      row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |    FROM train) WHERE rn = 1
        |), t AS (SELECT doc_id, string_split(text, ' ') AS t FROM uniq),
        |g2 AS (
        |  SELECT doc_id, unnest(CASE WHEN len(t) >= 2 THEN
        |    list_transform(range(1, len(t)), i -> t[i]||' '||t[i+1])
        |    ELSE [] END) AS g
        |  FROM t),
        |c2 AS (SELECT doc_id, max(c) AS top2 FROM
        |  (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2) GROUP BY doc_id),
        |g3 AS (
        |  SELECT doc_id, unnest(CASE WHEN len(t) >= 3 THEN
        |    list_transform(range(1, len(t)-1), i -> t[i]||' '||t[i+1]||' '||t[i+2])
        |    ELSE [] END) AS g
        |  FROM t),
        |c3 AS (SELECT doc_id, sum(CASE WHEN c >= 2 THEN 3*c ELSE 0 END) AS dup3 FROM
        |  (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1, 2) GROUP BY doc_id),
        |rep AS (
        |  SELECT b.doc_id
        |  FROM (SELECT doc_id, len(t) AS n_tok FROM t) b
        |  LEFT JOIN c2 USING (doc_id) LEFT JOIN c3 USING (doc_id)
        |  WHERE round(least(coalesce(top2, 0) * 2.0 / n_tok, 1.0), 5) <= 0.20
        |    AND round(least(coalesce(dup3, 0) * 1.0 / n_tok, 1.0), 5) <= 0.18
        |), bt AS (
        |  SELECT string_split(text, ' ') AS t FROM documents WHERE source = 'src0'
        |), bn AS (
        |  SELECT DISTINCT unnest(CASE WHEN len(t) >= 5 THEN
        |    list_distinct(list_transform(range(1, len(t)-3),
        |      i -> t[i]||' '||t[i+1]||' '||t[i+2]||' '||t[i+3]||' '||t[i+4]))
        |    ELSE [] END) AS ngram
        |  FROM bt
        |), dng AS (
        |  SELECT doc_id, unnest(CASE WHEN len(t) >= 5 THEN
        |    list_distinct(list_transform(range(1, len(t)-3),
        |      i -> t[i]||' '||t[i+1]||' '||t[i+2]||' '||t[i+3]||' '||t[i+4]))
        |    ELSE [] END) AS ngram
        |  FROM t
        |), dirty AS (SELECT DISTINCT doc_id FROM dng JOIN bn USING (ngram)),
        |surv AS (
        |  SELECT u.doc_id, u.text FROM uniq u
        |  JOIN rep USING (doc_id)
        |  WHERE u.doc_id NOT IN (SELECT doc_id FROM dirty)
        |""".stripMargin +
      s"    AND $coin / 1152921504606846976.0\n" +
      """      < CASE WHEN u.lang = 'en' THEN 0.5 ELSE 0.2 END
        |), c AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS DOUBLE) AS n,
        |    sum(CAST(len(string_split(text, ' ')) AS DOUBLE))
        |      OVER (ORDER BY doc_id) - CAST(len(string_split(text, ' ')) AS DOUBLE)
        |      AS cum_before
        |  FROM surv
        |)
        |SELECT CAST(floor(cum_before / 256) AS BIGINT) AS pack_id,
        |  count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS total_tokens
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin
    }
  )
}
