package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ext.CellQuantizer

/** Ad-hoc scale experiment (not part of the library surface): replicate
  * the documents corpus N× with distinct doc ids and re-run the heavy
  * pipeline operators, reporting the observed scaling exponent. A
  * near-linear exponent (≈1 on a fixed 32-thread box, modulo fixed
  * costs) is the empirical check behind the "scales to 100 TB" design
  * claims — a quadratic term would show up immediately as ≈2. */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val mult = sys.env.getOrElse("SPARK_GRAFT_MULT", "20").toInt
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.ext.{Dedup, TextOps}

    val base = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "lang", "text")
    val nBase = base.count()
    // distinct ids per replica; texts repeat ⇒ dedup finds real clusters
    val big = spark.range(mult).crossJoin(base)
      .select((col("doc_id") * mult + col("id")).as("doc_id"), col("lang"), col("text"))
      .repartition(32).cache()
    val nBig = big.count()
    println(s"[scale] corpus ${nBase} -> ${nBig} docs (x$mult)")

    // SPARK_GRAFT_PROBE_ONLY=a,b,c runs the named probes and skips the
    // rest (the full 20x sweep takes ~10 min; a targeted re-measure of a
    // changed operator should not pay for near_dup_k128's 5 min)
    val only: Set[String] = sys.env.get("SPARK_GRAFT_PROBE_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)
    // prefix match so "span_boiler" selects span_boiler_x{1,4} and
    // "train_hist" both trainer sizes; multi-iteration blocks gate each
    // iteration on the same predicate as its time() call, so a targeted
    // run never builds a fixture it will not measure
    def selected(name: String): Boolean =
      only.isEmpty || only.exists(name.startsWith)
    def time(name: String)(f: => Long): Unit = {
      if (!selected(name)) return
      val t0 = System.nanoTime()
      val rows = f
      println(f"[scale] $name%-24s ${(System.nanoTime() - t0) / 1e9}%8.2f s  ($rows rows)")
    }
    // warm
    big.select(count(lit(1))).collect()

    time("exact_dedup") {
      Dedup.exactDedup(big, "text", "doc_id").count()
    }
    time("near_dup_k128") {
      Dedup.nearDupPairs(big, "text", "doc_id", numHashes = 128, bands = 32).count()
    }
    // exact-dedup-first composition: collapse byte-identical replicas
    // before the fuzzy miner — the standard pipeline order. On a
    // replica-heavy corpus this removes the output-bound quadratic (every
    // k-copy group contributes k(k−1)/2 true pairs to the raw miner).
    time("near_dup_after_exact") {
      val reps = Dedup.exactDedup(big, "text", "doc_id").cache()
      val n = Dedup.nearDupPairs(reps, "text", "doc_id",
        numHashes = 128, bands = 32).count()
      reps.unpersist(blocking = false)
      n
    }
    time("dup_clusters") {
      val pairs = Dedup.nearDupPairs(big, "text", "doc_id", numHashes = 16, bands = 4)
      Dedup.connectedComponents(pairs, "id_a", "id_b").count()
    }
    time("token_stats") {
      big.select(col("lang"), col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
        .groupBy("lang")
        .agg(countDistinct("doc_id").as("n_docs"), count(lit(1)).as("n_tokens"),
          countDistinct("tok").as("n_distinct")).count()
    }
    // corpus-quality filters: all keyed by doc id (or the bounded bucket
    // key) — each should scale linearly in corpus tokens
    import graft.ext.CorpusFilters
    val bench = base.limit(250).select("doc_id", "text")
    time("decontaminate") {
      CorpusFilters.decontaminate(big, bench).where(col("contaminated") === 1).count()
    }
    time("gopher_repetition") {
      CorpusFilters.repetitionStats(big).where(col("repetition_keep") === 1).count()
    }
    time("unigram_nll") {
      CorpusFilters.unigramNll(big).count()
    }
    time("dsir_weight") {
      CorpusFilters.dsirLogWeight(big, col("lang") === "en").count()
    }
    // cleaning surface: paragraph dedup and span removal are the two
    // shuffle-bearing cleaning ops (hash-count + join-back); the rest of
    // cleanCorpus is map-only and scales with the scan by construction
    // sum over the computed columns so count-only pruning cannot skip
    // the clean-text rebuild (a bare count() lets the optimizer drop the
    // array work and even eliminate the join-back entirely)
    time("paragraph_dedup") {
      val pages = big.withColumn("text",
        concat_ws("\n", lit("Shared boilerplate header line."), col("text"),
          concat(lit("Unique footer "), col("doc_id").cast("string"))))
      Dedup.paragraphDedup(pages, "text", "doc_id")
        .agg(sum(length(col("clean_text"))), sum("n_dup_paras")).collect()
      1L
    }
    time("span_dedup") {
      Dedup.removeRepeatedSpans(big, "text", "doc_id", n = 3, minDocs = 3)
        .agg(sum(length(col("clean_text"))), sum("n_removed")).collect()
      1L
    }
    // keep-first variant: one extra map-side-combined min-struct
    // aggregate + equi-join on the n-gram key over the cut-all shape —
    // should track span_dedup within a small constant
    time("span_dedup_keep_first") {
      Dedup.removeRepeatedSpansKeepFirst(big, "text", "doc_id", n = 3, minDocs = 3)
        .agg(sum(length(col("clean_text"))), sum("n_removed")).collect()
      1L
    }
    // span removal on FULLY-COVERED boilerplate docs (every token of every
    // doc sits under a hot n-gram — the license-page worst case, where
    // |starts| ≈ |tokens|): the r8 exists-lambda keep-filter was O(T²)
    // per document here (~25M lambda evals per 5k-token doc); the
    // covered-set array_except cut must scale ~linearly in doc count
    for (m <- Seq(1, 4) if selected(s"span_boiler_x$m")) {
      val tokensN = 5000
      val nd = 64 * m
      val boiler = spark.range(nd).select(col("id").as("doc_id"),
        array_join(transform(sequence(lit(0), lit(tokensN - 1)),
          i => concat(lit("b"), (i % 977).cast("string"))), " ").as("text"))
        .repartition(32).cache()
      boiler.count()
      time(s"span_boiler_x$m") {
        Dedup.removeRepeatedSpans(boiler, "text", "doc_id", n = 3, minDocs = 3)
          .agg(sum(length(col("clean_text"))), sum("n_removed")).collect()
        nd.toLong
      }
      boiler.unpersist(blocking = true)
    }
    // keep-best cluster resolution under ONE growing mega-component: the
    // aggregate-argmax shape (map-side partial max_by + unique-id
    // join-back) must stay ~flat per row as one component absorbs ever
    // more of the corpus — the old per-cluster row_number window
    // serialized the whole component into a single sorting task. Pairs
    // are star-shaped (hub 0) so CC converges in O(1) rounds and the
    // probe times the RESOLUTION, not label propagation.
    for (m <- Seq(1, 4) if selected(s"keep_best_mega_x$m")) {
      val nm = 500000L * m
      val megaPairs = spark.range(1, nm)
        .select(lit(0L).as("id_a"), col("id").as("id_b"))
        .repartition(32)
      val megaDocs = spark.range(nm)
        .select(col("id").as("doc_id"), (col("id") % 9973L).as("score"))
        .repartition(32).cache()
      megaDocs.count()
      time(s"keep_best_mega_x$m") {
        Dedup.keepBestPerCluster(megaDocs, megaPairs, col("score"))
          .agg(sum(col("kept")), sum(col("cluster_id"))).collect()
        nm
      }
      megaDocs.unpersist(blocking = true)
    }
    time("clean_corpus") {
      graft.ext.Cleaning.cleanCorpus(
        big.withColumn("text",
          concat(col("text"), lit(". Filler one two three four five.\n"),
            lit("Second line makes the page three strong!\n"),
            concat(lit("Third unique closer "), col("doc_id").cast("string"),
              lit(" ends well.")))),
        "doc_id", "text")
        .agg(sum(length(col("text"))), sum("n_dup_paras")).collect()
      1L
    }
    // incremental snapshot dedup: the anti-join carries hashes only, and
    // the bloom pre-filter runs map-side on the batch — both linear
    time("incremental_dedup") {
      val prior = big.where(col("doc_id") % 3 =!= 0)
      val batch = big.where(col("doc_id") % 3 === 0)
      Dedup.incrementalDedup(batch, prior,
        bloomExpectedItems = nBig, bloomFpp = 0.01).count()
    }
    // incremental NEAR-dedup: the signature-key gate — signature
    // aggregation is the explode→min shape (linear in shingles), the
    // gate itself is one keyed anti-join on the ~100-byte key
    time("incremental_neardup") {
      val prior = big.where(col("doc_id") % 3 =!= 0)
      val batch = big.where(col("doc_id") % 3 === 0)
      Dedup.incrementalNearDedup(batch,
        Dedup.nearDupKeys(prior, numHashes = 16), numHashes = 16).count()
    }
    // banded OR-tier: bucket join on (band, key) + estimated-Jaccard
    // verification over the signature tables — linear in corpus shingles
    // plus Σ|batch-bucket|·|prior-bucket| over co-occupied buckets
    // (bounded by the cap)
    time("incremental_neardup_banded") {
      val prior = big.where(col("doc_id") % 3 =!= 0)
      val batch = big.where(col("doc_id") % 3 === 0)
      Dedup.incrementalBandedNearDedup(batch,
        Dedup.minhashSignatures(prior, "text", col("doc_id"), 16),
        numHashes = 16, bands = 4, threshold = 0.8).count()
    }
    // the two-tier crawl gate, sequential vs fused (shared batch
    // signature pass): at corpus scale the signature computation
    // dominates, so the fused form should win by roughly the cost of
    // one batch signature pass; k=128 is the documented banded-tier
    // operating point
    time("incremental_crawl_seq") {
      val prior = big.where(col("doc_id") % 3 =!= 0)
      val batch = big.where(col("doc_id") % 3 === 0)
      Dedup.incrementalBandedNearDedup(
        Dedup.incrementalNearDedup(batch,
          Dedup.nearDupKeys(prior, numHashes = 128), numHashes = 128),
        Dedup.minhashSignatures(prior, "text", col("doc_id"), 128),
        numHashes = 128, bands = 32, threshold = 0.8).count()
    }
    time("incremental_crawl_fused") {
      val prior = big.where(col("doc_id") % 3 =!= 0)
      val batch = big.where(col("doc_id") % 3 === 0)
      Dedup.incrementalCrawlGate(batch,
        Dedup.nearDupKeys(prior, numHashes = 128),
        Dedup.minhashSignatures(prior, "text", col("doc_id"), 128),
        numHashes = 128, bands = 32, threshold = 0.8).count()
    }
    // the FOUR-tier gate: the normalized tier should cost ~one map-side
    // md5 + one key-only anti-join on top of the fused three-tier run —
    // the signature pass still dominates
    time("incremental_crawl_norm") {
      val prior = big.where(col("doc_id") % 3 =!= 0)
      val batch = big.where(col("doc_id") % 3 === 0)
      Dedup.incrementalCrawlGate(batch,
        Dedup.nearDupKeys(prior, numHashes = 128),
        Dedup.minhashSignatures(prior, "text", col("doc_id"), 128),
        numHashes = 128, bands = 32, threshold = 0.8,
        priorCanonKeys = Some(Dedup.canonicalKeys(prior))).count()
    }
    // paragraph gate tier: snapshot keys are map-only; the strip is one
    // hash join on the md5 key (snapshot side keys-only) + a per-doc
    // page rebuild — linear in batch paragraphs
    time("paragraph_strip") {
      val pages = big.withColumn("text",
        concat_ws("\n", lit("Shared boilerplate header line."), col("text"),
          concat(lit("Unique footer "), col("doc_id").cast("string"))))
      val prior = pages.where(col("doc_id") % 3 =!= 0)
      val batch = pages.where(col("doc_id") % 3 === 0)
      Dedup.stripSeenParagraphs(batch, Dedup.paragraphKeys(prior))
        .agg(sum(length(col("clean_text"))), sum("n_seen_paras")).collect()
      1L
    }
    // span gate tier: snapshot keys from the map-side-combined hot-set
    // aggregate (bounded output); the strip is one hash join on the
    // md5 key + the shared covered-positions cut — linear in batch
    // n-grams, the same shape as the batch span op
    time("span_strip") {
      val pages = big.withColumn("text",
        concat(col("text"),
          lit(" share this page on all social media channels right now")))
      val prior = pages.where(col("doc_id") % 3 =!= 0)
      val batch = pages.where(col("doc_id") % 3 === 0)
      Dedup.stripSeenSpans(batch,
          Dedup.spanKeys(prior, n = 3, minDocs = 3).localCheckpoint(), n = 3)
        .agg(sum(length(col("clean_text"))), sum("n_removed")).collect()
      1L
    }
    // incremental semantic tier over the replicated embeddings table:
    // cell assignment map-only, ONE equi-join shuffle on the cell id,
    // per-cell candidate work bounded by the cap — linear in vectors
    if (selected("incremental_semdedup")) {
      import graft.ext.Similarity
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
        .select("vec_id", "embedding")
      val bigEmb = spark.range(mult).crossJoin(emb)
        .select((col("vec_id") * mult + col("id")).as("vec_id"), col("embedding"))
        .repartition(32).cache()
      val nEmb = bigEmb.count()
      val prior = bigEmb.where(col("vec_id") % 3 =!= 0)
      val batch = bigEmb.where(col("vec_id") % 3 === 0)
      // k scales with the corpus (the semDedup k ≈ √n contract): per-cell
      // candidate work is |batch-cell|·|prior-cell| ≈ (n/k)², so a fixed
      // k turns the tier quadratic as n grows — measured: k=16 over 40k
      // vectors ran 7× slower than √n cells on identical data
      val kCells = math.max(16, math.sqrt(nEmb.toDouble).toInt)
      val cents = Similarity.kmeansCentroids(prior, k = kCells,
        sampleRows = math.max(2048, kCells))
      time("incremental_semdedup") {
        val quantizer = CellQuantizer.Flat(cents)
        Similarity.incrementalSemDedup(batch,
          Similarity.semanticKeys(prior, quantizer), quantizer,
          threshold = 0.95, nprobe = 2, maxCellSize = 20000).count()
      }
      println(s"[scale] semdedup vectors: $nEmb cells: $kCells")
      bigEmb.unpersist(blocking = true)
    }
    // quantizer-growth lifecycle: a snapshot keyed by a FIXED k=16
    // quantizer decays as the corpus grows (over-cap cells pass their
    // members ungated — visible in n_rows_passed_uncapped, NOT in wall
    // time); rekeySemanticSnapshot re-keys the stored embeddings under
    // a √n quantizer in ONE map-only pass (linear in snapshot rows),
    // after which the gate's per-cell work is flat again
    for (m <- Seq(1, 4)
         if selected(s"semdedup_rekey_x$m") ||
           selected(s"semdedup_rekeyed_gate_x$m") ||
           selected(s"semdedup_rekey2_x$m") ||
           selected(s"semdedup_rekeyed2_gate_x$m")) {
      import graft.ext.Similarity
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
        .select("vec_id", "embedding")
      // replicas are JITTERED per (row, dim) (±0.1 on unit-norm-ish
      // vectors): byte-identical replicas would collapse into the same
      // cell at ANY k — a degenerate mega-cell no quantizer growth can
      // split — where the real decay under test is a DISPERSED corpus
      // outgrowing its cell count
      val bigEmb = spark.range(mult.toLong * m).crossJoin(emb)
        .select((col("vec_id") * (mult * m) + col("id")).as("vec_id"),
          col("embedding"))
        .select(col("vec_id"), transform(col("embedding"), (x, i) =>
          x + ((col("vec_id") * 31 + i * 7) % 97 - 48).cast("float")
            * lit(0.002f)).as("embedding"))
        .repartition(32).cache()
      val nEmb = bigEmb.count()
      val prior = bigEmb.where(col("vec_id") % 3 =!= 0)
      val batch = bigEmb.where(col("vec_id") % 3 === 0)
      val cap = 1000
      val stale = CellQuantizer.Flat(Similarity.kmeansCentroids(prior, k = 16))
      val snapStale = Similarity.semanticKeys(prior, stale).localCheckpoint()
      val kNew = math.max(16, math.sqrt(nEmb.toDouble).toInt)
      val grown = CellQuantizer.Flat(Similarity.kmeansCentroids(prior,
        k = kNew, sampleRows = math.max(2048, kNew)))
      time(s"semdedup_rekey_x$m") {
        Similarity.rekeySemanticSnapshot(snapStale, grown).count()
      }
      val rekeyed = Similarity.rekeySemanticSnapshot(snapStale, grown)
        .localCheckpoint()
      time(s"semdedup_rekeyed_gate_x$m") {
        Similarity.incrementalSemDedup(batch, rekeyed, grown,
          threshold = 0.95, nprobe = 2, maxCellSize = cap).count()
      }
      // the decay the lifecycle exists to close, via the cap report:
      // rows of the snapshot the gate can no longer see
      def ungated(snap: org.apache.spark.sql.DataFrame) =
        Dedup.capReport(snap.select("cell"), Seq("cell"), cap)
          .collect().head.getLong(3)
      println(s"[scale] rekey x$m: vectors $nEmb stale-k16 ungated rows " +
        s"${ungated(snapStale)} -> rekeyed-k$kNew ungated ${ungated(rekeyed)}")
      // the SAME growth step via the TWO-LEVEL quantizer (the past-the-
      // driver-ceiling path): k1 = k2 ≈ √kNew composed cells, trained in
      // a fraction of the flat time; re-key is the same map-only pass
      // and the composed gate reads the same decay through the report
      if (selected(s"semdedup_rekey2_x$m")) {
        val k1 = math.max(4, math.sqrt(kNew.toDouble).toInt)
        val (c2, f2) = Similarity.trainQuantizer2(prior, k1, k1,
          sampleRows = math.max(2048, k1))
        val grown2 = CellQuantizer.TwoLevel(c2, f2)
        time(s"semdedup_rekey2_x$m") {
          Similarity.rekeySemanticSnapshot(snapStale, grown2).count()
        }
        val rekeyed2 = Similarity.rekeySemanticSnapshot(snapStale, grown2)
          .localCheckpoint()
        time(s"semdedup_rekeyed2_gate_x$m") {
          Similarity.incrementalSemDedup(batch, rekeyed2, grown2,
            threshold = 0.95, nprobe = 2, maxCellSize = cap).count()
        }
        println(s"[scale] rekey2 x$m: composed ${k1}x$k1 cells ungated " +
          s"${ungated(rekeyed2)} (flat-k$kNew ${ungated(rekeyed)})")
      }
      bigEmb.unpersist(blocking = true)
    }
    // PQ-compressed semantic snapshot bytes (r18 stretch): the same
    // corpus persisted as (id, cell, emb float[64]) vs (id, cell,
    // codes int[8]) — the dominant storage term of the embedding
    // membrane at 10¹⁰ docs; the gate reads the codes through
    // pqDecode (PqSnapshotSpec pins decision parity at budget)
    if (selected("pq_snapshot_bytes")) {
      import graft.ext.Similarity
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
        .select("vec_id", "embedding")
      val cents = Similarity.kmeansCentroids(emb, k = 16)
      val books = Similarity.pqTrainCodebooks(emb, numSub = 8, k = 64)
      def dirBytes(p: java.nio.file.Path): Long = {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(p).iterator().asScala
          .filter(java.nio.file.Files.isRegularFile(_))
          .map(java.nio.file.Files.size).sum
      }
      time("pq_snapshot_bytes") {
        val raw = java.nio.file.Files.createTempDirectory("probe_snap_raw")
        val pq = java.nio.file.Files.createTempDirectory("probe_snap_pq")
        Similarity.semanticKeys(emb, CellQuantizer.Flat(cents))
          .write.mode("overwrite").parquet(raw.toString)
        Similarity.semanticKeys(emb, CellQuantizer.Pq(cents, books))
          .write.mode("overwrite").parquet(pq.toString)
        val (rb, pb) = (dirBytes(raw), dirBytes(pq))
        println(f"[scale]   raw snapshot $rb%10d B   pq snapshot $pb%10d B   ratio ${rb.toDouble / pb}%.1fx")
        import scala.jdk.CollectionConverters._
        Seq(raw, pq).foreach(d => java.nio.file.Files.walk(d).iterator()
          .asScala.toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists(_)))
        rb / math.max(1L, pb)
      }
    }

    // snapshot-ANN nprobe tuning table (r18): recall@10 of
    // ivfTopKFromSnapshot vs brute-force ground truth over the same
    // snapshot, per probe width — the read a production user picks
    // nprobe from (recall rises toward 1.0 at full probe by the
    // p_ann_snapshot equivalence; cost rises ~linearly in nprobe)
    if (selected("ann_recall_table")) {
      import graft.ext.Similarity
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
        .select("vec_id", "embedding")
      val k = math.max(8, math.sqrt(emb.count().toDouble).toInt / 2)
      val quantizer = CellQuantizer.Flat(Similarity.kmeansCentroids(emb, k = k))
      val snap = Similarity.semanticKeys(emb, quantizer).localCheckpoint()
      val q = emb.where(col("vec_id") % 20 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        .localCheckpoint()
      time("ann_recall_table") {
        val rows = Similarity.annRecallProbe(snap, q, quantizer, k = 10,
          probes = Seq(1, 2, 4, 8, k).map((_, 1))).orderBy("nprobe").collect()
        rows.foreach(r => println(
          f"[scale]   nprobe=${r.getInt(0)}%-4d recall@10=${r.getDouble(5)}%.4f"))
        rows.length.toLong
      }
    }

    // quantizer-training ceiling (r18): the k ≈ √n contract at 10¹⁰
    // docs wants k ≈ 10⁵ — flat driver Lloyd is O(sample·k·dim·iters)
    // and needs sample ≥ k, so already at k = 4096 it is measurably
    // infeasible next to the TWO-LEVEL factorization (64×64 = the same
    // 4096 effective cells from 128 trained centroids over the same
    // sample). Same deterministic Lloyd core both sides; the gap is
    // the k-factor, and it widens linearly in k.
    if (selected("quantizer2_train") || selected("quantizer_flat_train")) {
      import graft.ext.Similarity
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
        .select("vec_id", "embedding")
      // flat k=4096 needs sample ≥ k (the kmeansCentroids require) —
      // replicate-and-jitter to a dispersed 16k-vector corpus (the
      // rekey sweep's fixture shape)
      val bigEmb = spark.range(8).crossJoin(emb)
        .select((col("vec_id") * 8 + col("id")).as("vec_id"),
          transform(col("embedding"), (x, i) =>
            x + ((col("vec_id") * 31 + i * 7) % 97 - 48).cast("float")
              * lit(0.002f)).as("embedding"))
        .localCheckpoint()
      // each block behind its OWN guard (r19): the shared fixture is
      // cheap, but selecting only the composed probe must not pay the
      // deliberately-infeasible flat k=4096 train (and vice versa)
      if (selected("quantizer2_train")) time("quantizer2_train") {
        val (c, f) = Similarity.trainQuantizer2(bigEmb, k1 = 64, k2 = 64,
          sampleRows = 8192, iters = 8)
        (c.length * f.length).toLong
      }
      if (selected("quantizer_flat_train")) time("quantizer_flat_train") {
        Similarity.kmeansCentroids(bigEmb, k = 4096, sampleRows = 8192,
          iters = 8).length.toLong
      }
    }

    // mega-cell cap sweep (r18): the cap primitive is a count-aggregate
    // + null-safe anti-join-back, so ONE degenerate cell concentrating
    // 500k→2M rows (embeddings in tow) must cost ~linear scan time —
    // the per-key window shape it replaced buffered the whole mega-cell
    // through ONE task before dropping it. Fixture: one hot cell at n
    // rows + 1000 normal cells; watch the exponent stay ≈ 1.
    for (n <- Seq(500000L, 1000000L, 2000000L)
         if selected(s"cap_megacell_${n / 1000}k")) {
      import graft.ext.Similarity
      val mega = spark.range(n).select(col("id"), lit(0).as("cell"),
          transform(sequence(lit(0), lit(63)),
            i => ((col("id") + i) % 97).cast("float")).as("emb"))
        .unionByName(spark.range(10000).select(
          (col("id") + 10000000L).as("id"),
          (col("id") % 1000 + 1).cast("int").as("cell"),
          transform(sequence(lit(0), lit(63)),
            i => ((col("id") * 7 + i) % 89).cast("float")).as("emb")))
        .repartition(32).cache()
      mega.count()
      time(s"cap_megacell_${n / 1000}k") {
        Similarity.cappedCells(mega, maxCellSize = 1000).count()
      }
      mega.unpersist(blocking = true)
    }

    // token-budget mix: one range-partitioned cumsum over (lang, id)
    time("token_budget") {
      graft.ext.Curation.takeTokenBudget(big, "lang",
        Map("en" -> 1000000L), defaultBudget = 500000L).count()
    }
    // epoch shuffle/shard at a production shard count: the within-shard
    // rank rides the range-partitioned cumsum — linear in rows, no
    // per-shard single-task sort
    time("epoch_shards") {
      graft.ext.Curation.epochShards(big, "doc_id", 1024).count()
    }
    // the full OUTPUT pipeline at scale: epoch shard assignment →
    // payload join-back → FILE-scale tar write (one streamed archive per
    // shard, rename-if-absent commit) → container readback. Should be
    // linear in corpus bytes: the shard rank is the range-partitioned
    // cumsum, the write is one task per shard streaming members, the
    // readback a whole-file binary scan + per-partition parse.
    time("output_pipeline") {
      val sharded = graft.ext.Curation.epochShards(
          big.select("doc_id"), "doc_id", 256, "probe")
        .join(big.select(col("doc_id"), col("text")), Seq("doc_id"))
        .select(col("shard"),
          format_string("%09d.txt", col("doc_id")).as("name"),
          col("text").cast("binary").as("payload"))
      val out = java.nio.file.Files.createTempDirectory("probe_tar").toString
      graft.sources.TarShards.writeShards(sharded, out, "shard", "name", "payload")
      val n = graft.sources.TarShards.readShards(spark, out).count()
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(out)).iterator()
        .asScala.toSeq.reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
      n
    }
    // ranged sample fetch off the .idx sidecars vs the full-scan read:
    // fetching a FIXED handful of samples from the shard store must cost
    // ~the sidecar scan + the fetched bytes — flat in corpus size —
    // while readSampleShards pays the whole store every time. The store
    // is built untimed (it is output_pipeline's cost, measured above).
    // guard names == the time() labels (the block-gating contract above:
    // selecting a probe by its exact printed label must run it)
    if (selected("sample_fetch_ranged") || selected("sample_scan_full")) {
      val sharded = graft.ext.Curation.epochShards(
          big.select("doc_id"), "doc_id", 64, "fetchprobe")
        .join(big.select(col("doc_id"), col("text")), Seq("doc_id"))
        .select(col("shard"), format_string("%09d", col("doc_id")).as("key"),
          col("text").cast("binary").as("txt"))
      val out = java.nio.file.Files.createTempDirectory("probe_fetch").toString
      graft.sources.TarShards.writeSampleShards(sharded, out, "shard", "key",
        Seq("txt" -> "txt"), index = true)
      val keys = big.select(format_string("%09d", col("doc_id")).as("k"))
        .where(col("k").substr(8, 2) === "77").limit(50).localCheckpoint()
      time("sample_fetch_ranged") {
        graft.sources.TarShards.fetchSamples(spark, out, keys).count()
      }
      time("sample_scan_full") {
        graft.sources.TarShards.readSampleShards(spark, out).count()
      }
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(out)).iterator()
        .asScala.toSeq.reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }

    // snapshot ADVANCE vs full rewrite: the day-N → day-N+1 step appends
    // only the day's key projection into the bucketed snapshot (cost ∝
    // day), where the naive advance recomputes and rewrites the whole
    // union (cost ∝ corpus). Both include their key computation. The
    // 15/16 vs 1/16 split models a standing corpus many crawls deep
    // (production is ~365:1); at parity the advance would still take
    // ~1/16 of the rewrite plus fixed job overhead — staying flat while
    // the rewrite grows with the corpus is the claim under test.
    if (selected("snapshot_advance") || selected("snapshot_rewrite")) {
      import graft.sources.BucketedSnapshot
      // salt the replicated text per row: the replicas otherwise share
      // ~nBase distinct keys and BOTH variants would write the same tiny
      // key table, hiding the day-vs-corpus asymmetry this probe exists
      // to show
      val salted = big.withColumn("text",
        concat_ws(" ", col("text"), col("doc_id")))
      val prior = salted.where(col("doc_id") % 16 =!= 0)
      val day = salted.where(col("doc_id") % 16 === 0)
      def tmp(n: String) = java.nio.file.Files.createTempDirectory(n).toString
      if (selected("snapshot_advance")) {
        // untimed: the standing snapshot the advance starts from (only
        // the advance probe consumes it — a rewrite-only run skips it)
        BucketedSnapshot.write(Dedup.exactKeys(prior).distinct(),
          "probe_snap_keys", tmp("probe_snap"), "_key", 32)
        time("snapshot_advance") {
          val dayKeys = Dedup.exactKeys(day).distinct().localCheckpoint()
          BucketedSnapshot.append(dayKeys, "probe_snap_keys", "_key", 32)
          dayKeys.count()
        }
        spark.sql("DROP TABLE IF EXISTS probe_snap_keys")
      }
      time("snapshot_rewrite") {
        BucketedSnapshot.write(
          Dedup.exactKeys(prior.unionByName(day)).distinct(),
          "probe_snap_keys2", tmp("probe_snap2"), "_key", 32)
        spark.table("probe_snap_keys2").count()
      }
      spark.sql("DROP TABLE IF EXISTS probe_snap_keys2")
    }
    big.unpersist(blocking = false)

    // funnel over a user-replicated event stream: one user-keyed shuffle,
    // per-user work linear in that user's stage events
    if (selected("funnel")) {
      val ev = graft.queries.EventQueries.events(spark, dir)
        .select("user_id", "ts", "event_type")
      val bigEv = spark.range(mult).crossJoin(ev)
        .select((col("user_id") * mult + col("id")).as("user_id"),
          col("ts"), col("event_type"))
        .repartition(32).cache()
      val nEv = bigEv.count()
      time("funnel") {
        graft.queries.EventQueries.funnel(bigEv, "user_id", "ts",
          "event_type", Seq("view", "click", "purchase")).count()
      }
      println(s"[scale] funnel events: $nEv")
      bigEv.unpersist(blocking = true)
    }

    // adversarial-bot funnel skew: ONE user with 10⁶ stage events. The
    // r12 sorted-iterator fold keeps per-user STATE at O(K) stage times
    // (the old collect_list buffered the whole event list in one task —
    // exactly this shape OOMed). The skewed user lands in one task by
    // construction (hash partitioning can't split a key); what must stay
    // bounded is that task's MEMORY, which the external sort + streaming
    // fold guarantee.
    if (selected("funnel_bot_user")) {
      val botEvents = 1000000L
      val bot = spark.range(botEvents).select(
        lit(7L).as("user_id"),
        (col("id") * 1000L).as("ts"),
        element_at(array(lit("view"), lit("click"), lit("purchase"), lit("x")),
          (col("id") % 4 + 1).cast("int")).as("event_type"))
      var f: Array[org.apache.spark.sql.Row] = Array.empty
      time("funnel_bot_user") {
        f = graft.queries.EventQueries.funnel(bot, "user_id", "ts",
          "event_type", Seq("view", "click", "purchase")).collect()
        f.length.toLong
      }
      require(f.length == 1 && f.head.getLong(0) == 7L,
        s"bot funnel wrong: ${f.toSeq}")
      println(s"[scale] funnel bot user: $botEvents events -> 1 row, O(K) state")
    }

    // trainer scaling: same 4-feature lineitem regression at 1× and
    // TRAIN_MULT× rows (jittered replicas so splits stay non-degenerate).
    // Histogram building is one treeAggregate per level whose partial is
    // nodes×bins×2 doubles — row count should scale the map side linearly
    // and leave the reduce side constant.
    import graft.tree.{GBTTrainer, TrainParams}
    val trainMult = sys.env.getOrElse("SPARK_GRAFT_TRAIN_MULT", "10").toInt
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_quantity").cast("double"), col("l_extendedprice").cast("double"),
        col("l_discount").cast("double"), col("l_tax").cast("double"))
    def rows(m: Int) = spark.range(m).crossJoin(li)
      .select((col("l_quantity") + col("id") * 1e-4).as("f0"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount")) / 100000.0).as("y"))
      .repartition(32)
      .rdd.map(r => (Array(r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)),
        r.getDouble(4), 1.0))
      .cache()
    for (m <- Seq(1, trainMult) if selected(s"train_hist_x$m")) {
      val data = rows(m)
      val n = data.count()
      time(s"train_hist_x$m") {
        new GBTTrainer(TrainParams(numRounds = 5, maxDepth = 5, maxBin = 64, seed = 7))
          .fit(data)
        n
      }
      data.unpersist(blocking = true)
    }
    spark.stop()
  }
}
