package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.sources.BucketedSnapshot

/** The bucketed-snapshot contract: joins and aggregations on the bucket
  * key run WITHOUT an exchange on the bucketed side — asserted on the
  * physical plan, not just claimed. */
class BucketedSnapshotSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmpDir(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(name)
    d.toFile.deleteOnExit()
    d.toString
  }

  test("bucketed join on the key elides every exchange; results match the plain join") {
    import spark.implicits._
    val docs = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
      .select("doc_id", "lang", "n_chars")
    val meta = docs.select(col("doc_id"), (col("n_chars") % 7).as("grade"))
    BucketedSnapshot.write(docs, "bk_docs", tmpDir("bk_docs"), "doc_id", 8)
    BucketedSnapshot.write(meta, "bk_meta", tmpDir("bk_meta"), "doc_id", 8)
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = BucketedSnapshot.read(spark, "bk_docs")
        .join(BucketedSnapshot.read(spark, "bk_meta"), "doc_id")
      val rows = joined.count()
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed-bucketed join must not shuffle:\n${plan.take(1200)}")
      assert(plan.contains("SortMergeJoin"), plan.take(400))
      // same rows as the un-bucketed join
      val plain = docs.join(meta, "doc_id").count()
      assert(rows == plain && rows > 0)
      // aggregation on the bucket key also skips the exchange (plan-only
      // inspection: executedPlan is computed lazily and independently of
      // any action, so running the query first proves nothing extra)
      val agg = BucketedSnapshot.read(spark, "bk_docs")
        .groupBy("doc_id").agg(count(lit(1)).as("n"))
      val aggPlan = agg.queryExecution.executedPlan.toString
      assert(!aggPlan.contains("Exchange"),
        s"groupBy on the bucket key must not shuffle:\n${aggPlan.take(1200)}")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      spark.sql("DROP TABLE IF EXISTS bk_docs")
      spark.sql("DROP TABLE IF EXISTS bk_meta")
    }
  }

  test("append advances the snapshot without rewriting it: bucketing survives, contents == union, spec mismatch fails") {
    import spark.implicits._
    val Dedup = graft.ext.Dedup
    val docs = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
      .select("doc_id", "text")
    val prior = docs.where(col("doc_id") % 3 === 1)
    val day1 = docs.where(col("doc_id") % 3 === 2)
    val dir = tmpDir("bk_loop")
    BucketedSnapshot.write(Dedup.exactKeys(prior).distinct(),
      "bk_loop_keys", dir, "_key", 8)
    try {
      val before = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
        .toArray.map(_.toString).filter(_.endsWith(".parquet")).toSet
      // materialize BEFORE appending: the gate's plan reads the very
      // table the advance writes (the append scaladoc's contract)
      val kept1 = Dedup.incrementalDedupKeys(day1,
        BucketedSnapshot.read(spark, "bk_loop_keys")).localCheckpoint()
      BucketedSnapshot.append(Dedup.exactKeys(kept1), "bk_loop_keys",
        "_key", 8)
      // advance cost is O(day): every day-0 file is still there untouched
      val after = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
        .toArray.map(_.toString).filter(_.endsWith(".parquet")).toSet
      assert(before.subsetOf(after) && after.size > before.size,
        s"append must add files, not rewrite: ${before.size} -> ${after.size}")
      // the advanced table still scans as bucketed: groupBy on the key
      // plans with no exchange
      val agg = BucketedSnapshot.read(spark, "bk_loop_keys")
        .groupBy("_key").agg(count(lit(1)).as("n"))
      assert(!agg.queryExecution.executedPlan.toString.contains("Exchange"),
        agg.queryExecution.executedPlan.toString.take(800))
      // contents == the recomputed union projection
      val snap = BucketedSnapshot.read(spark, "bk_loop_keys")
        .as[String].collect().sorted
      val expect = Dedup.exactKeys(prior).distinct()
        .unionByName(Dedup.exactKeys(kept1))
        .as[String].collect().sorted
      assert(snap.sameElements(expect), s"${snap.length} vs ${expect.length}")
      // a mismatched bucket spec is a loud error, not a silent layout break
      intercept[Exception] {
        BucketedSnapshot.append(Dedup.exactKeys(kept1), "bk_loop_keys",
          "_key", 16)
      }
    } finally spark.sql("DROP TABLE IF EXISTS bk_loop_keys")
  }

  test("compact collapses append-accumulated files to one per bucket; contents and bucketing preserved") {
    import spark.implicits._
    val Dedup = graft.ext.Dedup
    val docs = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
      .select("doc_id", "text")
    val dir = tmpDir("bk_cmp")
    BucketedSnapshot.write(
      Dedup.exactKeys(docs.where(col("doc_id") % 3 === 1)).distinct(),
      "bk_cmp_keys", dir, "_key", 8)
    try {
      // two daily advances accumulate files well past one-per-bucket
      for (m <- Seq(2, 0))
        BucketedSnapshot.append(
          Dedup.exactKeys(docs.where(col("doc_id") % 3 === m)).distinct()
            .localCheckpoint(),
          "bk_cmp_keys", "_key", 8)
      def files(d: String) =
        java.nio.file.Files.list(java.nio.file.Paths.get(d))
          .toArray.map(_.toString).filter(_.endsWith(".parquet"))
      assert(files(dir).length > 8, s"fixture must fragment: ${files(dir).length}")
      val dir2 = tmpDir("bk_cmp2")
      BucketedSnapshot.compact(spark, "bk_cmp_keys", "bk_cmp2_keys",
        dir2, "_key", 8)
      // one file per bucket — the co-partitioned rewrite's whole point
      assert(files(dir2).length == 8, s"got ${files(dir2).length} files")
      // contents identical, and the compacted table still plans bucketed
      val a = BucketedSnapshot.read(spark, "bk_cmp_keys").as[String].collect().sorted
      val b = BucketedSnapshot.read(spark, "bk_cmp2_keys").as[String].collect().sorted
      assert(a.sameElements(b), s"${a.length} vs ${b.length}")
      val agg = BucketedSnapshot.read(spark, "bk_cmp2_keys")
        .groupBy("_key").agg(count(lit(1)).as("n"))
      assert(!agg.queryExecution.executedPlan.toString.contains("Exchange"),
        agg.queryExecution.executedPlan.toString.take(800))
    } finally {
      spark.sql("DROP TABLE IF EXISTS bk_cmp_keys")
      spark.sql("DROP TABLE IF EXISTS bk_cmp2_keys")
    }
  }

  test("retention over a bucketed (key, gen) snapshot plans without an exchange") {
    import spark.implicits._
    val Dedup = graft.ext.Dedup
    val docs = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
      .select("doc_id", "text")
    val stamped = Dedup.stampGeneration(
      Dedup.exactKeys(docs.where(col("doc_id") % 3 === 1)).distinct(), 0L)
    BucketedSnapshot.write(stamped, "bk_gen_keys", tmpDir("bk_gen"), "_key", 8)
    try {
      // the daily retention pass (max-stamp groupBy on the bucket key)
      // must ride the bucketing — a corpus-sized shuffle per day would
      // defeat the layout
      val gate = Dedup.retainGenerations(
        BucketedSnapshot.read(spark, "bk_gen_keys"), minGen = 0L)
      val plan = gate.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan.take(800))
      assert(gate.count() > 0)
    } finally spark.sql("DROP TABLE IF EXISTS bk_gen_keys")
  }

  test("canonical-key retention over a bucketed snapshot plans without an exchange and gates the normalized tier") {
    import org.apache.spark.sql.functions._
    val Dedup = graft.ext.Dedup
    val docs = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
      .select("doc_id", "text")
    val stamped = Dedup.stampGeneration(
      Dedup.canonicalKeys(docs.where(col("doc_id") % 3 === 1)).distinct(), 0L)
    BucketedSnapshot.write(stamped, "bk_canon_keys", tmpDir("bk_canon"),
      "_key", 8)
    try {
      // the normalized tier's snapshot obeys the SAME retention contract
      // as the other key tiers: max-stamp groupBy rides the bucketing
      val gate = Dedup.retainGenerations(
        BucketedSnapshot.read(spark, "bk_canon_keys"), minGen = 0L)
      val plan = gate.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan.take(800))
      assert(gate.count() > 0)
      // and the retained projection is exactly what the normalized gate
      // takes — end-to-end against the persisted table
      val kept = Dedup.incrementalNormalizedDedup(
        docs.where(col("doc_id") % 3 === 0), gate)
      assert(kept.count() > 0)
    } finally spark.sql("DROP TABLE IF EXISTS bk_canon_keys")
  }

  test("paragraph-key retention over a bucketed snapshot plans without an exchange and feeds the strip") {
    import org.apache.spark.sql.functions._
    val Dedup = graft.ext.Dedup
    val docs = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
      .select(col("doc_id"),
        concat_ws("\n", lit("Shared header."), col("text"),
          concat(lit("Footer "), col("doc_id").cast("string"))).as("text"))
    val stamped = Dedup.stampGeneration(
      Dedup.paragraphKeys(docs.where(col("doc_id") % 3 === 1)).distinct(), 0L)
    BucketedSnapshot.write(stamped, "bk_para_keys", tmpDir("bk_para"),
      "_key", 8)
    try {
      // the paragraph tier's snapshot obeys the SAME retention contract
      // as the other key tiers: max-stamp groupBy rides the bucketing
      val gate = Dedup.retainGenerations(
        BucketedSnapshot.read(spark, "bk_para_keys"), minGen = 0L)
      val plan = gate.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan.take(800))
      assert(gate.count() > 0)
      // and the retained projection is exactly what the strip takes —
      // end-to-end against the persisted table: the shared header is
      // cut from every day-2 page, footers survive
      val stripped = Dedup.stripSeenParagraphs(
        docs.where(col("doc_id") % 3 === 0), gate)
      assert(stripped.where(col("n_seen_paras") === 0).count() == 0)
      assert(stripped.where(col("clean_text").contains("Shared header."))
        .count() == 0)
      assert(stripped.where(!col("clean_text").contains("Footer "))
        .count() == 0)
    } finally spark.sql("DROP TABLE IF EXISTS bk_para_keys")
  }

  test("span-key retention over a bucketed snapshot plans without an exchange and feeds the span strip") {
    import org.apache.spark.sql.functions._
    val Dedup = graft.ext.Dedup
    val bar = lit(" share this page on social media now")
    val docs = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
      .select(col("doc_id"), concat(col("text"), bar).as("text"))
    val stamped = Dedup.stampGeneration(
      Dedup.spanKeys(docs.where(col("doc_id") % 3 === 1),
        n = 3, minDocs = 3).distinct(), 0L)
    BucketedSnapshot.write(stamped, "bk_span_keys", tmpDir("bk_span"),
      "_key", 8)
    try {
      // the span tier's snapshot obeys the SAME retention contract as
      // every other single-`_key` tier: max-stamp groupBy rides the
      // bucketing
      val gate = Dedup.retainGenerations(
        BucketedSnapshot.read(spark, "bk_span_keys"), minGen = 0L)
      val plan = gate.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan.take(800))
      assert(gate.count() > 0)
      // end-to-end against the persisted table: the share-bar tokens
      // are cut from every day-2 doc (its 3-grams are hot in day 1)
      val stripped = Dedup.stripSeenSpans(
        docs.where(col("doc_id") % 3 === 0), gate, n = 3)
      assert(stripped.where(col("n_removed") === 0).count() == 0)
      assert(stripped.where(col("clean_text").contains("social media"))
        .count() == 0)
    } finally spark.sql("DROP TABLE IF EXISTS bk_span_keys")
  }

  test("signature-table retention over a bucketed (id, mh*, gen) snapshot plans without an exchange") {
    import org.apache.spark.sql.functions._
    val Dedup = graft.ext.Dedup
    val docs = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
      .select("doc_id", "text")
    val stamped = Dedup.stampSignatureGeneration(
      Dedup.minhashSignatures(docs.where(col("doc_id") % 3 === 1),
        "text", col("doc_id"), 16), 0L, 16)
    BucketedSnapshot.write(stamped, "bk_gen_sigs", tmpDir("bk_gen_sigs"),
      "id", 8)
    try {
      // the banded tier's retention pass (max-(gen, sig) groupBy on id)
      // must ride the bucketing, same contract as the key tiers'
      // retainGenerations — the signature table is the one snapshot
      // artifact that would otherwise re-shuffle ∝ corpus every day
      val gate = Dedup.retainSignatureGenerations(
        BucketedSnapshot.read(spark, "bk_gen_sigs"), minGen = 0L, 16)
      val plan = gate.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan.take(800))
      assert(gate.count() > 0)
      // and the retained projection feeds the banded gate unchanged
      assert(gate.columns.toSeq ==
        ("id" +: (0 until 16).map(k => s"mh$k")))
    } finally spark.sql("DROP TABLE IF EXISTS bk_gen_sigs")
  }

  test("semantic-table retention over a bucketed (id, cell, emb, gen) snapshot plans without an exchange") {
    import org.apache.spark.sql.functions._
    val Similarity = graft.ext.Similarity
    val emb = spark.read.parquet(s"${TestSpark.sf}/embeddings.parquet")
      .select("vec_id", "embedding")
    val cents = Similarity.kmeansCentroids(
      emb.where(col("vec_id") % 3 === 1), k = 4)
    val flat = graft.ext.CellQuantizer.Flat(cents)
    val stamped = graft.ext.Dedup.stampGeneration(
      Similarity.semanticKeys(emb.where(col("vec_id") % 3 === 1), flat), "id", 0L)
    BucketedSnapshot.write(stamped, "bk_sem_cells", tmpDir("bk_sem"), "id", 8)
    try {
      // the semantic tier's retention pass (max-(gen, cell, emb) groupBy
      // on id) must ride the bucketing — same contract as the signature
      // table, the other wide snapshot artifact
      val gate = graft.ext.Dedup.retainGenerations(
        BucketedSnapshot.read(spark, "bk_sem_cells"), "id", minGen = 0L)
      val plan = gate.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan.take(800))
      assert(gate.count() > 0)
      // and the retained projection feeds the gate end-to-end
      assert(gate.columns.toSeq == Seq("id", "cell", "emb"))
      val kept = Similarity.incrementalSemDedup(
        emb.where(col("vec_id") % 3 === 0), gate, flat, threshold = 0.999)
      assert(kept.count() > 0)
    } finally spark.sql("DROP TABLE IF EXISTS bk_sem_cells")
  }

  test("bucketed layout survives a catalog restart through a persistent (derby) metastore") {
    import org.apache.spark.sql.SparkSession
    import org.apache.spark.sql.functions._
    val Dedup = graft.ext.Dedup
    val base = java.nio.file.Files.createTempDirectory("bk_meta_rt")
    base.toFile.deleteOnExit()
    val wh = base.resolve("warehouse").toString
    val db = base.resolve("metastore_db").toString
    // a fresh SparkSession with its OWN SharedState (cleared default ⇒
    // getOrCreate builds a new session on the existing context) backed
    // by a Hive catalog over an embedded-derby metastore at `db` — two
    // of these model a job restart: independent catalog instances, one
    // persistent store
    def hiveSession(): SparkSession = {
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      SparkSession.builder()
        .config("spark.sql.warehouse.dir", wh)
        .config("javax.jdo.option.ConnectionURL",
          s"jdbc:derby:;databaseName=$db;create=true")
        .config("spark.sql.shuffle.partitions", "4")
        .enableHiveSupport()
        .getOrCreate()
    }
    try {
      val s1 = hiveSession()
      val keys = Dedup.exactKeys(
        s1.read.parquet(s"${TestSpark.sf}/documents.parquet")
          .select("doc_id", "text")).distinct()
      BucketedSnapshot.write(keys, "bk_rt_keys",
        base.resolve("tbl").toString, "_key", 8)
      val n1 = s1.table("bk_rt_keys").count()
      // "restart": a second session with a fresh SharedState + catalog
      // client reads the SAME metastore — the production path the
      // in-memory-catalog caveat in the scaladoc points at
      val s2 = hiveSession()
      assert(s2 ne s1)
      val agg = BucketedSnapshot.read(s2, "bk_rt_keys")
        .groupBy("_key").agg(count(lit(1)).as("n"))
      val plan = agg.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketing metadata must survive the catalog restart:\n${plan.take(1200)}")
      assert(agg.count() == n1 && n1 > 0)
      // and append (the daily advance) still validates against the
      // restored spec rather than silently recreating the table
      intercept[Exception] {
        BucketedSnapshot.append(keys.limit(1), "bk_rt_keys", "_key", 16)
      }
      s2.sql("DROP TABLE IF EXISTS bk_rt_keys")
    } finally {
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("the gate artifact case: a bucketed prior-key table anti-joins without shuffling the prior side") {
    import spark.implicits._
    val docs = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
      .select("doc_id", "text")
    val priorKeys = graft.ext.Dedup.nearDupKeys(
      docs.where(col("doc_id") % 3 =!= 0), numHashes = 16)
    BucketedSnapshot.write(priorKeys.distinct(), "bk_prior_keys",
      tmpDir("bk_prior"), "_key", 8)
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val batchKeys = graft.ext.Dedup.nearDupKeys(
        docs.where(col("doc_id") % 3 === 0), numHashes = 16)
      // plan-only: exchange elision for bucketed scans is decided
      // statically (AQE cannot introduce an exchange the initial plan
      // lacks), so no action needs to run
      def exchanges(df: org.apache.spark.sql.DataFrame): Int =
        "Exchange hashpartitioning".r
          .findAllMatchIn(df.queryExecution.executedPlan.toString).length
      val bucketed = exchanges(batchKeys.join(
        BucketedSnapshot.read(spark, "bk_prior_keys"), Seq("_key"), "left_anti"))
      // the plain form recomputes + re-shuffles the prior side from text
      val plain = exchanges(batchKeys.join(
        graft.ext.Dedup.nearDupKeys(docs.where(col("doc_id") % 3 =!= 0),
          numHashes = 16).distinct(), Seq("_key"), "left_anti"))
      // the batch side's own exchanges remain in both; the bucketed prior
      // contributes ZERO where the plain prior pays its aggregation and
      // join-key shuffles
      assert(bucketed < plain,
        s"bucketed prior must shuffle strictly less: $bucketed vs $plain")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      spark.sql("DROP TABLE IF EXISTS bk_prior_keys")
    }
  }
}
