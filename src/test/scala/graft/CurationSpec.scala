package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ext.Curation

class CurationSpec extends AnyFunSuite {
  import TestSpark._

  test("stratified sampling is deterministic and near the target rates") {
    import spark.implicits._
    val docs = (0L until 4000L).map(i => (i, if (i % 4 == 0) "en" else "de"))
      .toDF("doc_id", "lang")
    val s1 = Curation.stratifiedSample(docs, "lang", Map("en" -> 0.5), 0.1, "doc_id")
      .collect().map(_.getLong(0)).sorted
    val s2 = Curation.stratifiedSample(docs, "lang", Map("en" -> 0.5), 0.1, "doc_id")
      .collect().map(_.getLong(0)).sorted
    assert(s1.sameElements(s2), "same salt must reproduce the same sample")
    val en = s1.count(_ % 4 == 0) / 1000.0
    val de = s1.count(_ % 4 != 0) / 3000.0
    assert(math.abs(en - 0.5) < 0.06, s"en rate $en")
    assert(math.abs(de - 0.1) < 0.04, s"de rate $de")
    // a different salt draws a different (same-sized-ish) sample
    val s3 = Curation.stratifiedSample(docs, "lang", Map("en" -> 0.5), 0.1,
      "doc_id", salt = "other").collect().map(_.getLong(0)).sorted
    assert(!s3.sameElements(s1), "different salt must decorrelate")
  }

  test("sequence packing: budget boundaries and token conservation") {
    import spark.implicits._
    // 10 docs x 100 tokens, budget 256: packs hold [0,1,2],[3,4,5],... by
    // first-token position
    val docs = (0L until 10L).map(i => (i, Array.fill(100)("w").mkString(" ")))
      .toDF("doc_id", "text")
    val packed = Curation.packSequences(docs, "text", "doc_id", 256)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(packed.map(_._2).forall(_ == 100L))
    // doc i starts at token 100*i -> pack floor(100i/256)
    packed.foreach { case (id, _, pack) =>
      assert(pack == (100 * id) / 256, s"doc $id in pack $pack")
    }
    assert(packed.map(_._2).sum == 1000L)
  }

  test("repeated n-gram mining counts docs and occurrences (Lee et al. shape)") {
    import spark.implicits._
    val boiler = "all rights reserved by the author"
    val docs = Seq(
      (0L, s"alpha beta $boiler gamma"),
      (1L, s"$boiler delta $boiler"), // twice in one doc
      (2L, s"epsilon $boiler"),
      (3L, "nothing shared here at all today")).toDF("doc_id", "text")
    val full = graft.ext.Dedup.repeatedNgrams(docs, "text", "doc_id", n = 6, minDocs = 3)
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(full.contains(boiler), s"hot set: ${full.keySet}")
    assert(full(boiler) == ((3L, 4L)), s"${full(boiler)}") // 3 docs, 4 occurrences
    // flagged docs: exactly the three carriers, doc 1 counts both hits
    val flags = graft.ext.Dedup.flagRepeatedNgramDocs(docs, "text", "doc_id", n = 6, minDocs = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(flags.keySet == Set(0L, 1L, 2L))
    assert(flags(1L) >= 2, s"doc 1 carries the passage twice: $flags")
  }

  test("takeTokenBudget: per-stratum hard budgets, no partial docs, id order") {
    import spark.implicits._
    // en docs: 4 tokens each; de docs: 3 tokens each
    val docs = ((1L to 10L).map(i => (i, "en", "a b c d")) ++
      (11L to 20L).map(i => (i, "de", "x y z"))).toDF("doc_id", "lang", "text")
    val kept = graft.ext.Curation.takeTokenBudget(
        docs, "lang", Map("en" -> 10L), defaultBudget = 7L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    // en budget 10: docs 1 (cum 4) and 2 (cum 8) fit; doc 3 (cum 12) would
    // overflow and is NOT taken partially. de budget 7: docs 11 (3), 12 (6).
    assert(kept.toSeq == Seq(
      (1L, "en", 4L, 4L), (2L, "en", 4L, 8L),
      (11L, "de", 3L, 3L), (12L, "de", 3L, 6L)), kept.toSeq)
    // zero budget takes nothing from that stratum
    val none = graft.ext.Curation.takeTokenBudget(
      docs, "lang", Map("en" -> 0L), defaultBudget = 3L)
      .select("lang").as[String].collect()
    assert(!none.contains("en") && none.count(_ == "de") == 1)
  }

  test("normalizedDedup: case/punct/whitespace-reformatted replicas collapse, unicode punctuation included") {
    import spark.implicits._
    val docs = Seq(
      (1L, "Hello, World!"),
      (2L, "hello   world"),          // spacing + case drift
      (3L, "HELLO—WORLD…"), // em-dash + ellipsis separators
      (4L, "hello\tworld\n"),         // control whitespace
      (5L, "a different document"))
      .toDF("doc_id", "text")
    val kept = graft.ext.Dedup.normalizedDedup(docs, "text", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 5L), kept)
    // original text survives, not the canonical form
    val t1 = graft.ext.Dedup.normalizedDedup(docs, "text", "doc_id")
      .where(org.apache.spark.sql.functions.col("doc_id") === 1L)
      .select("text").as[String].head()
    assert(t1 == "Hello, World!")
  }

  test("incrementalDedup: within-batch dedup + prior anti-join; bloom never changes the result") {
    import spark.implicits._
    val prior = Seq((1L, "seen before"), (2L, "also seen")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "fresh one"), (11L, "fresh one"),   // within-batch dup: keep 10
      (12L, "seen before"),                     // cross-snapshot dup: drop
      (13L, "fresh two")).toDF("doc_id", "text")
    def ids(bloom: Long) = graft.ext.Dedup.incrementalDedup(
        batch, prior, bloomExpectedItems = bloom)
      .select("doc_id").as[Long].collect().toSet
    val plain = ids(-1L)
    assert(plain == Set(10L, 13L), plain)
    // bloom pre-filter on: identical result (no false negatives), and the
    // output schema is the batch's original schema
    assert(ids(1000L) == plain)
    val cols = graft.ext.Dedup.incrementalDedup(batch, prior).columns.toSeq
    assert(cols == Seq("doc_id", "text"), cols)
  }

  test("exactKeys snapshot loop: gating against advanced keys == gating against recomputed prior union") {
    import spark.implicits._
    val Dedup = graft.ext.Dedup
    val prior = Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
    val day1 = Seq(
      (10L, "gamma"), (11L, "alpha"),           // 11 dup vs day-0 snapshot
      (12L, "delta"), (13L, "delta")).toDF("doc_id", "text") // keep 12
    val keys0 = Dedup.exactKeys(prior)
    val kept1 = Dedup.incrementalDedupKeys(day1, keys0)
    assert(kept1.select("doc_id").as[Long].collect().toSet == Set(10L, 12L))
    // the ADVANCE law: per-doc projection, so snapshot-union-of-keys is
    // exactly recompute-over-union — gate day 2 both ways, same rows
    val keys1 = keys0.unionByName(Dedup.exactKeys(kept1))
    val day2 = Seq(
      (20L, "gamma"),                           // dup vs day-1 ACCEPTED
      (21L, "beta"),                            // dup vs day-0 snapshot
      (22L, "epsilon")).toDF("doc_id", "text")
    val viaKeys = Dedup.incrementalDedupKeys(day2, keys1)
      .select("doc_id").as[Long].collect().toSet
    val viaDocs = Dedup.incrementalDedup(day2,
        prior.unionByName(kept1))
      .select("doc_id").as[Long].collect().toSet
    assert(viaKeys == Set(22L), viaKeys)
    assert(viaKeys == viaDocs)
    // a non-projection prior fails loudly, not silently-wrong
    val e = intercept[IllegalArgumentException] {
      Dedup.incrementalDedupKeys(day2, prior)
    }
    assert(e.getMessage.contains("exactKeys projection"), e.getMessage)
    // same advance law on the SIGNATURE tier: keys are per-doc pure
    // functions of text, so advanced-keys gating ≡ recomputed-union gating
    val nk0 = Dedup.nearDupKeys(prior, numHashes = 16)
    val nkept1 = Dedup.incrementalNearDedup(day1, nk0, numHashes = 16)
    val viaAdv = Dedup.incrementalNearDedup(day2,
        nk0.unionByName(Dedup.nearDupKeys(nkept1, numHashes = 16)),
        numHashes = 16)
      .select("doc_id").as[Long].collect().toSet
    val viaUnion = Dedup.incrementalNearDedup(day2,
        Dedup.nearDupKeys(prior.unionByName(nkept1), numHashes = 16),
        numHashes = 16)
      .select("doc_id").as[Long].collect().toSet
    assert(viaAdv == viaUnion, s"$viaAdv vs $viaUnion")
  }

  test("incremental gates on dirty text: null texts neither crash nor block unrelated docs") {
    import spark.implicits._
    val Dedup = graft.ext.Dedup
    // null text in BOTH the batch and the prior: md5(null) = null key,
    // and a null key is NO EVIDENCE of duplication (the r17 keyedGate
    // contract, mirrored in the oracles) — null-text batch docs pass
    // the tier UNTOUCHED (never collapsed within-batch: the window
    // salts null-key partitions by id; never blocked: null matches
    // nothing), and a null-text prior row blocks nothing.
    val prior = Seq((1L, Some("alpha")), (2L, None))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, None), (11L, None),                  // null keys: BOTH pass
      (12L, Some("alpha")),                      // blocked by prior
      (13L, Some("")), (14L, Some("")),          // empty IS a real key: keep 13
      (15L, Some("fresh"))).toDF("doc_id", "text")
    val kept = Dedup.incrementalDedup(batch, prior)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(10L, 11L, 13L, 15L), kept)
    // same through the persisted-key path
    val keptK = Dedup.incrementalDedupKeys(batch, Dedup.exactKeys(prior))
      .select("doc_id").as[Long].collect().toSet
    assert(keptK == kept, s"$keptK vs $kept")
    // and with the Bloom pre-filter ON: the dirty snapshot's null key
    // must not break the driver-side filter build (nulls are filtered
    // before stat.bloomFilter; they never match the anti-join anyway)
    val keptB = Dedup.incrementalDedupKeys(batch, Dedup.exactKeys(prior),
        bloomExpectedItems = 1000L)
      .select("doc_id").as[Long].collect().toSet
    assert(keptB == kept, s"bloom on dirty snapshot: $keptB vs $kept")
    // the NORMALIZED tier under the same dirt: md5(canonicalText(null))
    // is null — null-text docs ALL pass (the shared null-key contract);
    // punctuation-only text canonicalizes to "" (a REAL key, same as
    // the empty string), so "!!!" and "" are canonical twins and keep
    // the smaller id
    val keptN = Dedup.incrementalNormalizedDedup(
        Seq((10L, None), (11L, None), (12L, Some("Alpha!")),
          (13L, Some("")), (14L, Some("!!!")), (15L, Some("fresh")))
          .toDF("doc_id", "text"),
        Dedup.canonicalKeys(prior))
      .select("doc_id").as[Long].collect().toSet
    assert(keptN == Set(10L, 11L, 13L, 15L), keptN)
  }

  test("bloom routing boundary: over-cap estimates build executor-side, result unchanged at both sizes") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val Dedup = graft.ext.Dedup
    val docs = (0L until 60L).map(i => (i, s"document number $i body"))
    val prior = docs.filter(_._1 % 3 != 0).toDF("doc_id", "text")
    // batch: novel docs + byte replicas of prior docs under fresh ids +
    // a null-text row (the null-key path must survive BOTH routes)
    val batch = (docs.filter(_._1 % 3 == 0).map { case (i, t) => (i, Option(t)) } ++
      docs.filter(t => t._1 % 3 == 1 && t._1 < 20)
        .map { case (i, t) => (i + 1000L, Option(t)) } :+
      ((2000L, Option.empty[String]))).toDF("doc_id", "text")
    val want = Dedup.incrementalDedup(batch, prior)
      .select("doc_id").as[Long].collect().toSet
    // replicas blocked, novel + null-text kept — the classes the routes
    // must agree on
    assert(want == (docs.filter(_._1 % 3 == 0).map(_._1).toSet + 2000L), want)
    // under the 2 GiB boundary: the driver stat.bloomFilter route
    val small = Dedup.incrementalDedup(batch, prior, bloomExpectedItems = 1000L)
      .select("doc_id").as[Long].collect().toSet
    assert(small == want, s"driver route changed the result: $small vs $want")
    // OVER the boundary (10¹¹ items ≈ 120 GB optimal): routes to the
    // executor-built BloomFilterAggregate sized to the session's
    // runtime-filter budget (8 MB default) — a pre-filter instead of
    // the old refusal; fpp degrades, the result cannot
    assert(Dedup.bloomBytes(100000000000L, 0.01) > Dedup.BloomMaxBytes)
    val big = Dedup.incrementalDedup(batch, prior,
        bloomExpectedItems = 100000000000L)
      .select("doc_id").as[Long].collect().toSet
    assert(big == want, s"executor route changed the result: $big vs $want")
    // the items-cap conf raised during the build is restored
    assert(spark.conf.get(
      "spark.sql.optimizer.runtime.bloomFilter.maxNumItems").toLong < 100000000000L)
    // the formula matches the scaladoc's ~1.2 GB per 10⁹ items at 1% fpp
    assert(math.abs(Dedup.bloomBytes(1000000000L, 0.01) - 1.198e9) < 0.01e9,
      Dedup.bloomBytes(1000000000L, 0.01))
    // an EMPTY prior snapshot through the executor route (null filter
    // bytes) keeps every batch row
    val none = Dedup.incrementalDedupKeys(batch,
        prior.where(col("doc_id") < 0).select(
          org.apache.spark.sql.functions.md5(col("text")).as("_key")),
        bloomExpectedItems = 100000000000L)
      .select("doc_id").as[Long].collect().toSet
    assert(none == batch.select("doc_id").as[Long].collect().toSet, none)
    // an input already carrying a _key/_maybe column would silently lose
    // it to the gate's staging — loud reject instead
    for (c <- Seq("_key", "_maybe")) {
      val dirty = batch.withColumn(c, org.apache.spark.sql.functions.lit("x"))
      val ek = intercept[IllegalArgumentException] {
        Dedup.incrementalDedupKeys(dirty, Dedup.exactKeys(prior))
      }
      assert(ek.getMessage.contains(c), ek.getMessage)
      val en = intercept[IllegalArgumentException] {
        Dedup.incrementalNearDedup(dirty, Dedup.nearDupKeys(prior, numHashes = 16),
          numHashes = 16)
      }
      assert(en.getMessage.contains(c), en.getMessage)
    }
  }

  test("null strata: temperature rates skip them, token budget groups them under the default (r13 review)") {
    import spark.implicits._
    val docs = Seq(
      (1L, Some("en"), "a b c d e f"), (2L, Some("en"), "g h i j"),
      (3L, None, "k l m"), (4L, None, "n o p q r")
    ).toDF("doc_id", "lang", "text")
    // pre-fix: NPE on the null group's toString; now the table skips
    // nulls and the samplers give null-stratum rows rate 0 (dropped)
    val rates = graft.ext.Curation.temperatureRates(docs, "lang", 0.5, 0.5)
    assert(rates.map(_._1) == Seq("en"), rates)
    val sampled = graft.ext.Curation.temperatureSample(
      docs, "lang", "doc_id", 0.5, 1.0)
    assert(sampled.where($"lang".isNull).count() == 0,
      "null-stratum rows carry rate 0")
    // pre-fix: the prefix equi-join silently dropped null-stratum rows;
    // now they form their own budget group under defaultBudget
    val kept = graft.ext.Curation.takeTokenBudget(
        docs, "lang", Map("en" -> 100L), defaultBudget = 100L)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 3L, 4L),
      s"null-stratum docs must ride the default budget: $kept")
    // and a tight default budget still binds the null group
    val tight = graft.ext.Curation.takeTokenBudget(
        docs, "lang", Map("en" -> 100L), defaultBudget = 3L)
      .select("doc_id").as[Long].collect().toSet
    assert(tight == Set(1L, 2L, 3L), s"got $tight")
  }

  test("takeTokenBudgetByScore: best-first order, id tiebreak, hard cut") {
    import spark.implicits._
    val docs = Seq(
      (1L, "en", 10L, "a b c"),     // 3 tokens, score 10 -> 3rd in en
      (2L, "en", 30L, "d e f g"),   // 4 tokens, score 30 -> 1st
      (3L, "en", 20L, "h i"),       // 2 tokens, score 20 -> 2nd
      (4L, "de", 5L, "j k l"),      // tie on score: id order
      (5L, "de", 5L, "m n")
    ).toDF("doc_id", "lang", "score", "text")
    val kept = graft.ext.Curation.takeTokenBudgetByScore(
        docs, "lang", "score", Map("en" -> 6L), defaultBudget = 10L)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("cum_tokens")).toMap
    // en: doc2 (cum 4), doc3 (cum 6); doc1 would be cum 9 > 6 -> cut.
    // de: score tie broken by id -> doc4 (cum 3), doc5 (cum 5), both fit
    assert(kept == Map(2L -> 4L, 3L -> 6L, 4L -> 3L, 5L -> 5L), kept)
  }

  test("epochShards: deterministic full permutation with dense per-shard positions") {
    import spark.implicits._
    val docs = (1L to 100L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val out = graft.ext.Curation.epochShards(docs, "doc_id", 8, "epoch0")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(out.length == 100 && out.map(_._1).distinct.length == 100,
      "every row appears exactly once")
    assert(out.forall(t => t._2 >= 0 && t._2 < 8), "shards in [0, 8)")
    // positions within each shard are exactly 0..n_s-1 (dense ranks)
    out.groupBy(_._2).foreach { case (sh, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (0L until rows.length).toSeq,
        s"shard $sh positions must be dense 0-based ranks")
    }
    // reproducible: a second invocation yields the identical permutation
    val again = graft.ext.Curation.epochShards(docs, "doc_id", 8, "epoch0")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(out.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
    // a fresh salt re-permutes (different epoch): some assignment differs
    val epoch1 = graft.ext.Curation.epochShards(docs, "doc_id", 8, "epoch1")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(out.sortBy(_._1).toSeq != epoch1.sortBy(_._1).toSeq,
      "a different salt must yield a different permutation")
    // NULL ids are dropped by the DOCUMENTED contract (no hash identity;
    // pre-fix they vanished silently in the prefix equi-join instead) —
    // the non-null rows still form a dense permutation
    val withNull = Seq((Some(1L), "a"), (None, "b"), (Some(2L), "c"))
      .toDF("doc_id", "text")
    val nn = graft.ext.Curation.epochShards(withNull, "doc_id", 4)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(nn.map(_._1).toSet == Set(1L, 2L), s"got ${nn.toSeq}")
  }

  test("packShardsBySize: contiguous byte packing within one doc of target, loud on negative sizes") {
    import spark.implicits._
    val docs = (1L to 200L).map(i => (i, 50L + (i * 37) % 400))
      .toDF("doc_id", "n_bytes")
    val target = 2000L
    val packed = Curation.packShardsBySize(docs, "doc_id", "n_bytes", target)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(packed.length == 200)
    // every shard's bytes start inside its window: sum of FULL shards
    // (all but the last) is within one max doc of the target, and shards
    // are contiguous 0..K
    val byShard = packed.groupBy(_._3).view.mapValues(_.map(_._2).sum).toMap
    val shards = byShard.keys.toSeq.sorted
    assert(shards == (0L to shards.max), s"contiguous shards: $shards")
    val maxDoc = packed.map(_._2).max
    shards.dropRight(1).foreach { s =>
      assert(math.abs(byShard(s) - target) <= maxDoc,
        s"shard $s bytes ${byShard(s)} not within one doc of $target")
    }
    // deterministic; a different salt re-rolls the permutation
    val again = Curation.packShardsBySize(docs, "doc_id", "n_bytes", target)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(packed.sortBy(_._1).sameElements(again.sortBy(_._1)))
    val other = Curation.packShardsBySize(docs, "doc_id", "n_bytes", target,
      salt = "pack1").collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(packed.exists(p => other(p._1) != p._3), "salt must re-roll")
    // nulls dropped, negative sizes loud
    val dirty = Seq((1L, Some(10L)), (2L, None)).toDF("doc_id", "n_bytes")
    assert(Curation.packShardsBySize(dirty, "doc_id", "n_bytes", 100L)
      .count() == 1)
    val neg = Seq((1L, -5L)).toDF("doc_id", "n_bytes")
    intercept[Exception] {
      Curation.packShardsBySize(neg, "doc_id", "n_bytes", 100L).collect()
    }
  }

  test("chunkTokens rejects stride > chunkSize (silent-coverage-loss guard, r13 review)") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d e f g h")).toDF("doc_id", "text")
    val ex = intercept[IllegalArgumentException] {
      graft.ext.Curation.chunkTokens(docs, "doc_id", "text",
        chunkSize = 5, stride = 10)
    }
    assert(ex.getMessage.contains("full coverage"))
  }

  test("incrementalNearDedup: signature key gates byte-different same-shingle-set docs") {
    import spark.implicits._
    val t1 = "alpha beta gamma delta"
    val t1x2 = s"$t1 $t1"
    val t1x3 = s"$t1 $t1 $t1" // same shingle SET as t1x2, different bytes
    val prior = Seq((1L, t1x2), (2L, "red green blue walls")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, t1x3),                                            // near-dup of prior 1: drop
      (11L, "red green blue walls"),                          // exact dup of prior 2: drop
      (12L, "a wholly novel document about something else"),  // keep
      (13L, "x y"),                                           // shingle-less, md5 fallback: keep
      (14L, "x y"),                                           // within-batch dup of 13: drop
      (15L, "another new doc with plenty of words"))          // keep
      .toDF("doc_id", "text")
    val keys = graft.ext.Dedup.nearDupKeys(prior, numHashes = 16)
    def ids(bloom: Long) = graft.ext.Dedup.incrementalNearDedup(
        batch, keys, numHashes = 16, bloomExpectedItems = bloom)
      .select("doc_id").as[Long].collect().toSet
    val plain = ids(-1L)
    assert(plain == Set(12L, 13L, 15L), plain)
    assert(ids(1000L) == plain, "bloom pre-filter must never change the result")
    // the fixture is a TRUE near-dup: the exact tier re-admits doc 10
    val exact = graft.ext.Dedup.incrementalDedup(batch, prior)
      .select("doc_id").as[Long].collect().toSet
    assert(exact.contains(10L), "t1x3 must differ from t1x2 byte-wise")
    // original schema out; shingle-less prior docs gate the fallback key
    assert(graft.ext.Dedup.incrementalNearDedup(batch, keys, numHashes = 16)
      .columns.toSeq == Seq("doc_id", "text"))
    val keys2 = graft.ext.Dedup.nearDupKeys(
      Seq((1L, "x y")).toDF("doc_id", "text"), numHashes = 16)
    assert(graft.ext.Dedup.incrementalNearDedup(
      Seq((20L, "x y")).toDF("doc_id", "text"), keys2, numHashes = 16).count() == 0)
    // passing raw prior docs instead of a nearDupKeys projection fails loudly
    intercept[IllegalArgumentException] {
      graft.ext.Dedup.incrementalNearDedup(batch, prior, numHashes = 16)
    }
  }

  test("incrementalBandedNearDedup: estimated-Jaccard gate over the prior signature table") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val long1 = (1 to 40).map(i => s"w$i").mkString(" ")          // 40 tokens
    val other = (1 to 40).map(i => s"v$i").mkString(" ")
    val prior = Seq((1L, long1), (2L, other)).toDF("doc_id", "text")
    val priorSigs = graft.ext.Dedup.minhashSignatures(
      prior, "text", col("doc_id"), 16)
    val batch = Seq(
      (10L, long1),                         // exact replica, J=1: drop
      // 20 appended tokens: 14/16 slots still agree (est J 0.875 ≥ 0.8)
      // but the full signature differs — the case ONLY this tier catches
      (11L, long1 + " " + (1 to 20).map(i => s"q$i").mkString(" ")),
      (12L, (1 to 40).map(i => s"x$i").mkString(" ")), // novel: keep
      (13L, "a b"),                         // shingle-less: passes this tier
      (14L, ((1 to 12).map(i => s"w$i") ++ (1 to 28).map(i => s"z$i")).mkString(" ")) // J ≈ 0.15: keep
    ).toDF("doc_id", "text")
    val kept = graft.ext.Dedup.incrementalBandedNearDedup(
        batch, priorSigs, numHashes = 16, bands = 4, threshold = 0.8)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(12L, 13L, 14L), kept)
    // the lower tiers CANNOT catch the appended-token replica: its bytes
    // and its full signature both differ from the prior doc's
    val sigKept = graft.ext.Dedup.incrementalNearDedup(
        batch, graft.ext.Dedup.nearDupKeys(prior, numHashes = 16), numHashes = 16)
      .select("doc_id").as[Long].collect().toSet
    assert(sigKept.contains(11L), "fixture must be invisible to the signature-equality tier")
    // maxBucketSize drops over-cap buckets (cap 0 disables every bucket)
    assert(graft.ext.Dedup.incrementalBandedNearDedup(
      batch, priorSigs, numHashes = 16, bands = 4, threshold = 0.8,
      maxBucketSize = 0).count() == batch.count())
    // a non-signature prior frame is rejected loudly
    intercept[IllegalArgumentException] {
      graft.ext.Dedup.incrementalBandedNearDedup(batch, prior, numHashes = 16, bands = 4)
    }
  }

  test("incrementalCrawlGate is row-identical to the sequential two-tier composition") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val long1 = (1 to 40).map(i => s"w$i").mkString(" ")
    val other = (1 to 40).map(i => s"v$i").mkString(" ")
    val prior = Seq((1L, long1), (2L, other)).toDF("doc_id", "text")
    val priorKeys = graft.ext.Dedup.nearDupKeys(prior, numHashes = 16)
    val priorSigs = graft.ext.Dedup.minhashSignatures(
      prior, "text", col("doc_id"), 16)
    // all replica classes: byte-identical (10), within-batch signature
    // dup (15 of 16), banded-only 20-token append (11), novel (12),
    // shingle-less (13 — md5-fallback keyed), J ≈ 0.15 (14)
    val batch = Seq(
      (10L, long1),
      (11L, long1 + " " + (1 to 20).map(i => s"q$i").mkString(" ")),
      (12L, (1 to 40).map(i => s"x$i").mkString(" ")),
      (13L, "a b"),
      (14L, ((1 to 12).map(i => s"w$i") ++ (1 to 28).map(i => s"z$i")).mkString(" ")),
      (15L, (1 to 40).map(i => s"x$i").mkString(" ")),
      (16L, other)
    ).toDF("doc_id", "text")
    val sequential = graft.ext.Dedup.incrementalBandedNearDedup(
        graft.ext.Dedup.incrementalNearDedup(batch, priorKeys, numHashes = 16),
        priorSigs, numHashes = 16, bands = 4, threshold = 0.8)
      .select("doc_id").as[Long].collect().toSet
    val fused = graft.ext.Dedup.incrementalCrawlGate(batch, priorKeys,
        priorSigs, numHashes = 16, bands = 4, threshold = 0.8)
      .select("doc_id").as[Long].collect().toSet
    assert(fused == sequential, s"fused $fused != sequential $sequential")
    assert(fused == Set(12L, 13L, 14L), fused)
    // seeded-random parity sweep: small vocab forces a mix of exact,
    // near and novel docs across random prior/batch splits
    val rnd = new scala.util.Random(7)
    val vocab = Vector("a", "b", "c", "d", "e", "f")
    val corpus = (1L to 60L).map { i =>
      (i, Seq.fill(4 + rnd.nextInt(12))(
        vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val rPrior = corpus.filter(_._1 % 2 == 0).toDF("doc_id", "text")
    val rBatch = corpus.filter(_._1 % 2 == 1).toDF("doc_id", "text")
    val rKeys = graft.ext.Dedup.nearDupKeys(rPrior, numHashes = 16)
    val rSigs = graft.ext.Dedup.minhashSignatures(
      rPrior, "text", col("doc_id"), 16)
    val rSeq = graft.ext.Dedup.incrementalBandedNearDedup(
        graft.ext.Dedup.incrementalNearDedup(rBatch, rKeys, numHashes = 16),
        rSigs, numHashes = 16, bands = 4, threshold = 0.8)
      .select("doc_id").as[Long].collect().toSet
    val rFused = graft.ext.Dedup.incrementalCrawlGate(rBatch, rKeys, rSigs,
        numHashes = 16, bands = 4, threshold = 0.8)
      .select("doc_id").as[Long].collect().toSet
    assert(rFused == rSeq, s"random-corpus parity: $rFused != $rSeq")
    // r20: a caller-precomputed batch signature table (the §2.6 overlap
    // path — the pass runs as a job overlapping the snapshot projection
    // builds) is row-identical to the gate computing it internally, and
    // a wrong-width frame is rejected loudly
    val rPre = graft.ext.Dedup.minhashSignatures(
      rBatch, "text", col("doc_id"), 16).localCheckpoint()
    val rPreFused = graft.ext.Dedup.incrementalCrawlGate(rBatch, rKeys, rSigs,
        numHashes = 16, bands = 4, threshold = 0.8, batchSigs = Some(rPre))
      .select("doc_id").as[Long].collect().toSet
    assert(rPreFused == rFused, s"precomputed batchSigs: $rPreFused != $rFused")
    intercept[IllegalArgumentException] {
      graft.ext.Dedup.incrementalCrawlGate(rBatch, rKeys, rSigs,
        numHashes = 16, bands = 4, threshold = 0.8,
        batchSigs = Some(rPre.drop("mh15")))
    }
  }

  test("four-tier crawl gate: normalized tier catches case/punct replicas; fused == sequential composition") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val Dedup = graft.ext.Dedup
    val long1 = (1 to 40).map(i => s"w$i").mkString(" ")
    val other = (1 to 40).map(i => s"v$i").mkString(" ")
    val novel = (1 to 40).map(i => s"x$i").mkString(" ")
    val prior = Seq((1L, long1), (2L, other)).toDF("doc_id", "text")
    val priorKeys = Dedup.nearDupKeys(prior, numHashes = 16)
    val priorSigs = Dedup.minhashSignatures(prior, "text", col("doc_id"), 16)
    val priorCanon = Dedup.canonicalKeys(prior)
    val batch = Seq(
      (10L, long1), // byte-identical → signature-key tier
      // case-drifted + decorated prior replica: bytes, shingles and
      // signature ALL differ → only the NORMALIZED tier can block it
      (11L, "  " + long1.toUpperCase + "  !! "),
      (12L, novel), // novel → kept
      (13L, s"$long1 q1 q2 q3 q4"), // J ≈ 0.905 → banded tier
      (14L, other.toUpperCase), // normalized tier, no decoration
      (15L, "  " + novel.toUpperCase + " ."), // within-batch canonical twin of 12
      (16L, "a b") // shingle-less, novel → kept (md5-fallback key)
    ).toDF("doc_id", "text")
    val sequential = Dedup.incrementalBandedNearDedup(
        Dedup.incrementalNormalizedDedup(
          Dedup.incrementalNearDedup(batch, priorKeys, numHashes = 16),
          priorCanon),
        priorSigs, numHashes = 16, bands = 4, threshold = 0.8)
      .select("doc_id").as[Long].collect().toSet
    val fused = Dedup.incrementalCrawlGate(batch, priorKeys, priorSigs,
        numHashes = 16, bands = 4, threshold = 0.8,
        priorCanonKeys = Some(priorCanon))
      .select("doc_id").as[Long].collect().toSet
    assert(fused == sequential, s"fused $fused != sequential $sequential")
    assert(fused == Set(12L, 16L), fused)
    // WITHOUT the normalized tier the case-drifted replicas re-admit —
    // the exact replica class the tier exists for
    val threeTier = Dedup.incrementalCrawlGate(batch, priorKeys, priorSigs,
        numHashes = 16, bands = 4, threshold = 0.8)
      .select("doc_id").as[Long].collect().toSet
    assert(threeTier == Set(11L, 12L, 14L, 15L, 16L), threeTier)
    // seeded-random parity sweep, four-tier: small vocab + random case
    // flips force a mix of exact, canonical, near and novel docs
    val rnd = new scala.util.Random(15)
    val vocab = Vector("a", "b", "c", "d", "e", "f")
    def doc() = Seq.fill(4 + rnd.nextInt(12))(
      vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val corpus = (1L to 60L).map { i =>
      val t = doc()
      (i, if (rnd.nextBoolean()) t.toUpperCase else t)
    }
    val rPrior = corpus.filter(_._1 % 2 == 0).toDF("doc_id", "text")
    val rBatch = corpus.filter(_._1 % 2 == 1).toDF("doc_id", "text")
    val rKeys = Dedup.nearDupKeys(rPrior, numHashes = 16)
    val rSigs = Dedup.minhashSignatures(rPrior, "text", col("doc_id"), 16)
    val rCanon = Dedup.canonicalKeys(rPrior)
    val rSeq = Dedup.incrementalBandedNearDedup(
        Dedup.incrementalNormalizedDedup(
          Dedup.incrementalNearDedup(rBatch, rKeys, numHashes = 16), rCanon),
        rSigs, numHashes = 16, bands = 4, threshold = 0.8)
      .select("doc_id").as[Long].collect().toSet
    val rFused = Dedup.incrementalCrawlGate(rBatch, rKeys, rSigs,
        numHashes = 16, bands = 4, threshold = 0.8,
        priorCanonKeys = Some(rCanon))
      .select("doc_id").as[Long].collect().toSet
    assert(rFused == rSeq, s"random four-tier parity: $rFused != $rSeq")
    // the shared Bloom knob pre-filters BOTH key tiers without changing
    // the result (no false negatives)
    val bloomed = Dedup.incrementalCrawlGate(batch, priorKeys, priorSigs,
        numHashes = 16, bands = 4, threshold = 0.8,
        bloomExpectedItems = 1000L,
        priorCanonKeys = Some(priorCanon))
      .select("doc_id").as[Long].collect().toSet
    assert(bloomed == fused, s"bloom changed the gate: $bloomed vs $fused")
    // loud rejects: a non-key frame as the canonical snapshot; a batch
    // carrying a reserved staging column
    intercept[IllegalArgumentException] {
      Dedup.incrementalNormalizedDedup(batch, prior)
    }
    intercept[IllegalArgumentException] {
      Dedup.incrementalNormalizedDedup(
        batch.withColumn("_rn", lit(1)), priorCanon)
    }
  }

  test("canonical-key generation retention: aged-out canonical keys re-admit through the normalized tier") {
    import spark.implicits._
    val Dedup = graft.ext.Dedup
    val snap = Dedup.stampGeneration(
        Dedup.canonicalKeys(Seq((1L, "Old News!")).toDF("doc_id", "text")), 0L)
      .unionByName(Dedup.stampGeneration(
        Dedup.canonicalKeys(Seq((2L, "Evergreen Story")).toDF("doc_id", "text")), 1L))
    val batch = Seq(
      (10L, "old news"), // canonical twin of the GEN-0 doc
      (11L, "  EVERGREEN   STORY !!"), // canonical twin of the GEN-1 doc
      (12L, "novel thing")).toDF("doc_id", "text")
    def kept(minGen: Long) =
      Dedup.incrementalNormalizedDedup(batch,
          Dedup.retainGenerations(snap, minGen))
        .select("doc_id").as[Long].collect().toSet
    // nothing aged out: both replicas blocked
    assert(kept(0L) == Set(12L), kept(0L))
    // gen-0 ages out → its canonical twin re-admits; gen-1 stays blocked
    assert(kept(1L) == Set(10L, 12L), kept(1L))
  }

  test("generation retention: aged-out keys re-admit, re-stamps take the max generation") {
    import spark.implicits._
    val Dedup = graft.ext.Dedup
    val prior = Seq((1L, "old news"), (2L, "evergreen")).toDF("doc_id", "text")
    val g0 = Dedup.stampGeneration(Dedup.exactKeys(prior), 0L)
    // "evergreen" re-accepted at gen 2 → its key carries stamps {0, 2};
    // retention at minGen 1 must see the MAX stamp and keep blocking it,
    // while "old news" (only gen 0) ages out and re-admits
    val snap = g0.unionByName(Dedup.stampGeneration(
      Dedup.exactKeys(Seq((3L, "evergreen")).toDF("doc_id", "text")), 2L))
    val batch = Seq((10L, "old news"), (11L, "evergreen"), (12L, "novel"))
      .toDF("doc_id", "text")
    val kept = Dedup.incrementalDedupKeys(batch,
        Dedup.retainGenerations(snap, minGen = 1L))
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(10L, 12L), kept)
    // minGen 0: nothing aged out yet
    val kept0 = Dedup.incrementalDedupKeys(batch,
        Dedup.retainGenerations(snap, minGen = 0L))
      .select("doc_id").as[Long].collect().toSet
    assert(kept0 == Set(12L), kept0)
    // shape validation fails loudly on the wrong projection
    intercept[IllegalArgumentException] { Dedup.retainGenerations(prior, 0L) }
    intercept[IllegalArgumentException] { Dedup.stampGeneration(snap, 3L) }
  }

  test("signature generation retention: aged-out sigs re-admit through the banded tier, re-stamps take the max") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val Dedup = graft.ext.Dedup
    val long1 = (1 to 40).map(i => s"w$i").mkString(" ") // gen-0 content
    val long2 = (1 to 40).map(i => s"v$i").mkString(" ") // gen-1 content
    // 4 appended tokens: true J = 38/42 ≈ 0.905, comfortably above the
    // 0.8 estimator threshold for both fixtures (20 appended tokens put
    // the v-fixture's estimate under the cut — hash-draw dependent)
    val q4 = "q1 q2 q3 q4"
    val gs = Dedup.stampSignatureGeneration(
        Dedup.minhashSignatures(
          Seq((1L, long1)).toDF("doc_id", "text"), "text", col("doc_id"), 16),
        0L, 16)
      .unionByName(Dedup.stampSignatureGeneration(
        Dedup.minhashSignatures(
          Seq((5L, long2)).toDF("doc_id", "text"), "text", col("doc_id"), 16),
        1L, 16))
    val batch = Seq(
      (10L, s"$long1 $q4"), // near-dup of the GEN-0 doc only
      (11L, s"$long2 $q4"), // near-dup of the GEN-1 doc only
      (12L, (1 to 40).map(i => s"x$i").mkString(" "))) // novel
      .toDF("doc_id", "text")
    def kept(minGen: Long, snap: org.apache.spark.sql.DataFrame = gs) =
      Dedup.incrementalBandedNearDedup(batch,
          Dedup.retainSignatureGenerations(snap, minGen, 16),
          numHashes = 16, bands = 4, threshold = 0.8)
        .select("doc_id").as[Long].collect().toSet
    // minGen 0: both prior sigs current — both near-dups blocked
    assert(kept(0L) == Set(12L), kept(0L))
    // minGen 1: the gen-0 signature ages out — its near-dup RE-ADMITS
    // while the gen-1 near-dup stays blocked (the r13 verdict's open
    // edge: without signature retention, 10 would stay blocked forever)
    assert(kept(1L) == Set(10L, 12L), kept(1L))
    // re-stamp: id 1 re-accepted at gen 2 → its MAX stamp survives a
    // minGen-2 cut (10 stays blocked) while the gen-1 sig ages out (11
    // re-admits)
    val reStamped = gs.unionByName(Dedup.stampSignatureGeneration(
      Dedup.minhashSignatures(
        Seq((1L, long1)).toDF("doc_id", "text"), "text", col("doc_id"), 16),
      2L, 16))
    assert(kept(2L, reStamped) == Set(11L, 12L), kept(2L, reStamped))
    // shape validation fails loudly on the wrong projection
    intercept[IllegalArgumentException] {
      Dedup.retainSignatureGenerations(
        Dedup.minhashSignatures(batch, "text", col("doc_id"), 16), 0L, 16)
    }
    intercept[IllegalArgumentException] {
      Dedup.stampSignatureGeneration(gs, 3L, 16)
    }
  }

  test("snapshot-loop advance law on a seeded-random corpus: advanced projections == recomputed union") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val Dedup = graft.ext.Dedup
    // the law the loop oracles lean on, swept across random text: both
    // projections are per-document pure functions, so snapshot ∪ day-1
    // keys/sigs is EXACTLY the recomputed projection over prior ∪
    // accepted — including bucket-cap behavior, since both variants
    // present the same prior-side table contents to the banded tier
    val rnd = new scala.util.Random(13)
    val vocab = Vector("a", "b", "c", "d", "e", "f", "g", "h")
    val corpus = (1L to 90L).map { i =>
      (i, Seq.fill(4 + rnd.nextInt(14))(
        vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val prior = corpus.filter(_._1 % 3 == 0).toDF("doc_id", "text")
    val day1 = corpus.filter(_._1 % 3 == 1).toDF("doc_id", "text")
    val day2 = corpus.filter(_._1 % 3 == 2).toDF("doc_id", "text")
    val k0 = Dedup.nearDupKeys(prior, numHashes = 16)
    val s0 = Dedup.minhashSignatures(prior, "text", col("doc_id"), 16)
    val kept1 = Dedup.incrementalCrawlGate(day1, k0, s0,
      numHashes = 16, bands = 4, threshold = 0.8).localCheckpoint()
    val viaAdvance = Dedup.incrementalCrawlGate(day2,
        k0.unionByName(Dedup.nearDupKeys(kept1, numHashes = 16)),
        s0.unionByName(Dedup.minhashSignatures(kept1, "text", col("doc_id"), 16)),
        numHashes = 16, bands = 4, threshold = 0.8)
      .select("doc_id").as[Long].collect().toSet
    val world = prior.unionByName(kept1)
    val viaUnion = Dedup.incrementalCrawlGate(day2,
        Dedup.nearDupKeys(world, numHashes = 16),
        Dedup.minhashSignatures(world, "text", col("doc_id"), 16),
        numHashes = 16, bands = 4, threshold = 0.8)
      .select("doc_id").as[Long].collect().toSet
    assert(viaAdvance == viaUnion, s"$viaAdvance vs $viaUnion")
    // the library form of the same loop: CrawlSnapshot stamps, retains
    // and advances from the day's batch signatures
    val (snap0, Seq(bs1, bs2)) = graft.ext.CrawlSnapshot.build(prior, 0L,
      Seq(day1, day2), numHashes = 16)
    val viaSnapshot = snap0
      .advance(snap0.gate(day1, bs1, 0L, bands = 4).localCheckpoint(), bs1, 1L)
      .gate(day2, bs2, 0L, bands = 4)
      .select("doc_id").as[Long].collect().toSet
    assert(viaSnapshot == viaUnion, s"$viaSnapshot vs $viaUnion")
    // sanity: the random split actually exercised the gate both ways
    assert(viaAdvance.nonEmpty && viaAdvance.size < 30,
      s"fixture must mix kept and dropped docs: $viaAdvance")
  }

  test("new ops degrade cleanly on empty inputs") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String, String)].toDF("doc_id", "lang", "text")
    val docs = Seq((1L, "en", "a b c")).toDF("doc_id", "lang", "text")
    assert(graft.ext.Curation.takeTokenBudget(
      empty, "lang", Map.empty, defaultBudget = 10L).count() == 0)
    // empty prior: everything in the batch survives (minus within-batch dups)
    val kept = graft.ext.Dedup.incrementalDedup(
        docs.select("doc_id", "text"), empty.select("doc_id", "text"))
      .select("doc_id").as[Long].collect().toSeq
    assert(kept == Seq(1L))
    // empty batch: nothing out
    assert(graft.ext.Dedup.incrementalDedup(
      empty.select("doc_id", "text"), docs.select("doc_id", "text")).count() == 0)
  }
}
