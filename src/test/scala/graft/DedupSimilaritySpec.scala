package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, Similarity}

class DedupSimilaritySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2L, "The  quick brown fox jumps over the lazy dog near the river bank"), // ws/case dup of 1
    (3L, "quick brown fox jumps over the lazy dog near the river bank today"), // near-dup
    (4L, "completely unrelated text about spark catalyst and tungsten engines"),
    (5L, "another unrelated document mentioning watermarks and state stores"))

  test("exact dedup collapses whitespace/case variants") {
    val got = Dedup.exact(docs.toDF("doc_id", "text"), "doc_id", "text")
    assert(got.count() == 4)
    val dup = got.filter($"n_copies" === 2).head
    assert(dup.getAs[Long]("keep_id") == 1L)
  }

  test("minhash LSH finds the near-dup pair, not unrelated ones") {
    val pairs = Dedup.minhashCandidatePairs(docs.toDF("doc_id", "text"),
      "doc_id", "text", shingleN = 2, k = 16, bands = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)), s"got $pairs")
    assert(!pairs.contains((4L, 5L)))
  }

  test("jaccardOnPairs computes exact bigram jaccard") {
    val pairs = Seq((1L, 2L)).toDF("id1", "id2")
    val j = Dedup.jaccardOnPairs(pairs, docs.toDF("doc_id", "text"),
      "doc_id", "text", shingleN = 2).head.getAs[Double]("jaccard")
    assert(j == 1.0, s"case/ws-normalized dup must have jaccard 1.0, got $j")
  }

  test("maxBucket skew guard drops degenerate buckets") {
    val same = (1L to 20L).map(i => (i, "identical identical identical text"))
    val got = Dedup.minhashCandidatePairs(same.toDF("doc_id", "text"),
      "doc_id", "text", shingleN = 2, k = 16, bands = 8, maxBucket = 10)
    assert(got.count() == 0, "bucket of 20 identical docs must be dropped, not exploded")
  }

  test("dedupCorpus removes whitespace dups and verified near-dups") {
    val corpus = docs ++ Seq(
      (6L, "the quick brown fox jumps over the lazy dog near the river bank today extra"))
    val out = Dedup.dedupCorpus(corpus.toDF("doc_id", "text"), "doc_id", "text",
      threshold = 0.5, shingleN = 2, k = 16, bands = 8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out.contains(1L), "cluster representative survives")
    assert(!out.contains(2L), "exact (ws/case) dup removed")
    assert(!out.contains(3L) && !out.contains(6L), "verified near-dups removed")
    assert(out.contains(4L) && out.contains(5L), "unrelated docs survive")
  }

  test("softDedupWeights: exact-dup multiplicity inverts to weight, " +
      "singletons keep 1e6, null text counts 1") {
    val withNull = docs ++ Seq((7L, null.asInstanceOf[String]))
    val got = Dedup.softDedupWeights(withNull.toDF("doc_id", "text"),
        "doc_id", "text").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got(1L) == ((2L, 500000L)) && got(2L) == ((2L, 500000L)))
    assert(got(3L) == ((1L, 1000000L)) && got(4L) == ((1L, 1000000L)))
    assert(got(7L) == ((1L, 1000000L)), "null text is its own singleton")
    // conservation: every input row appears exactly once
    assert(got.size == withNull.size)
  }

  test("softDedupWeightsNear: cluster size via connected components, " +
      "transitive chains weight as one cluster") {
    // 1,2 exact dups; 3 near-dup of both; 6 near-dup of 3 (chain);
    // 4,5 unrelated
    val corpus = docs ++ Seq(
      (6L, "the quick brown fox jumps over the lazy dog near the river bank today extra"))
    val got = Dedup.softDedupWeightsNear(corpus.toDF("doc_id", "text"),
        "doc_id", "text", threshold = 0.5, shingleN = 2, k = 16,
        bands = 8).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got(1L) == ((4L, 250000L)) && got(2L) == ((4L, 250000L)) &&
      got(3L) == ((4L, 250000L)) && got(6L) == ((4L, 250000L)),
      s"cluster {1,2,3,6} must weight 1/4: $got")
    assert(got(4L) == ((1L, 1000000L)) && got(5L) == ((1L, 1000000L)))
  }

  test("connectedComponents labels chains, stars, and pairs by their minimum") {
    // chain 1-2-3-4 (diameter 3), star 10-{11,12,13}, pair 20-21
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L),
      (11L, 10L), (10L, 12L), (13L, 10L), (21L, 20L)).toDF("id1", "id2")
    val got = Dedup.connectedComponents(pairs, "id1", "id2")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert((1L to 4L).forall(got(_) == 1L), "chain collapses to min")
    assert(Seq(10L, 11L, 12L, 13L).forall(got(_) == 10L), "star collapses to min")
    assert(got(20L) == 20L && got(21L) == 20L)
    assert(got.size == 10)
  }

  test("connectedComponents throws on non-convergence within maxIters") {
    val chain = (1L to 9L).map(i => (i, i + 1)).toDF("id1", "id2") // diameter 9
    intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, "id1", "id2", maxIters = 3).collect()
    }
  }

  test("dedupCorpusTransitive collapses clusters linked only via a removed member") {
    // doc 3 is a near-dup of BOTH 1 and 2, but 1 and 2 are below threshold
    // of each other: pairwise policy keeps {1, 2}; transitive keeps {1}.
    val core = (1 to 30).map(i => s"w$i").mkString(" ")
    val corpus = Seq(
      (1L, s"$core alpha beta"),
      (2L, s"gamma delta $core"),
      (3L, core),
      (9L, "totally unrelated content about something else entirely here now"))
      .toDF("doc_id", "text")
    val pairwise = Dedup.dedupCorpus(corpus, "doc_id", "text",
      threshold = 0.9, shingleN = 3, k = 16, bands = 8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(pairwise == Set(1L, 2L, 9L), s"pairwise keeps both ends: $pairwise")
    val transitive = Dedup.dedupCorpusTransitive(corpus, "doc_id", "text",
      threshold = 0.9, shingleN = 3, k = 16, bands = 8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(transitive == Set(1L, 9L), s"one survivor per component: $transitive")
  }

  test("dedupCorpusTiered: ledger partitions the corpus, tiers compose " +
      "the individual detectors, cheapest tier wins attribution") {
    // mixed-duplication corpus: exact (ws/case) copy, a near-identical
    // re-serve (one token swapped deep in a long doc — the simhash
    // regime), a looser paraphrase (several tokens changed — OPH+Jaccard
    // territory), and unique docs
    val core = (1 to 100).map(i => s"tok$i").mkString(" ")
    // doc 4: every 12th token replaced (8 edits) — enough multiset churn
    // to drift the 60-bit simhash past 3 bits, small enough to keep
    // bigram Jaccard ≈ 0.66 and ≥4-of-16 OPH agreement (the loose tier)
    val para = (1 to 100).map(i =>
      if (i % 12 == 0) s"replacementword$i" else s"tok$i").mkString(" ")
    val corpus = Seq(
      (1L, core),
      (2L, "  " + core.toUpperCase + " "), // exact tier (normalized copy)
      (3L, core.replace("tok37 ", "changed ")), // 1-token edit
      (4L, para),
      (9L, "totally different text about watermark state stores and such"),
      (10L, (100 to 160).map(i => s"v$i").mkString(" ")))
      .toDF("doc_id", "text")
    val ledger = Dedup.dedupCorpusTiered(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // every input doc attributed exactly once
    assert(ledger.keySet == Set(1L, 2L, 3L, 4L, 9L, 10L))
    assert(ledger(2L) == "exact")
    assert(ledger(1L) == "kept" && ledger(9L) == "kept" && ledger(10L) == "kept")
    // docs 3/4 are caught by SOME near-dup tier (which one depends on
    // simhash bit distance — pin the cheapest-wins property instead):
    assert(Set("simhash", "oph").contains(ledger(3L)), ledger.toString)
    assert(Set("simhash", "oph").contains(ledger(4L)), ledger.toString)
    // composition property: 'kept' set == manually chaining the three
    // detectors with the same parameters
    val keep1 = Dedup.exact(corpus, "doc_id", "text")
      .select(col("keep_id").as("doc_id"))
    val surv1 = corpus.join(keep1, Seq("doc_id"), "left_semi")
    val rm2 = Dedup.simhashNearDupPairs(surv1, "doc_id", "text", 3)
      .select(col("id2").as("doc_id")).distinct()
    val surv2 = surv1.join(rm2, Seq("doc_id"), "left_anti")
    val rm3 = Dedup.jaccardOnPairs(
        Dedup.ophMatchPairs(
          Dedup.ophSignatures(surv2, "doc_id", "text", 2, 16), 4L)
          .select("id1", "id2"),
        surv2, "doc_id", "text", 2)
      .filter(col("jaccard") >= 0.6).select(col("id2").as("doc_id")).distinct()
    val kept = surv2.join(rm3, Seq("doc_id"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ledger.filter(_._2 == "kept").keySet == kept)
    // a doc caught at tier 2 must NOT be attributed to tier 3
    val simhashCaught = rm2.collect().map(_.getLong(0)).toSet
    simhashCaught.foreach(id => assert(ledger(id) == "simhash"))
  }

  test("dedupCorpusTiered(useSimhashTier = false): kept set equals " +
      "dedupCorpusOph's exactly, ledger never says 'simhash'") {
    val core = (1 to 100).map(i => s"tok$i").mkString(" ")
    val corpus = Seq(
      (1L, core),
      (2L, "  " + core.toUpperCase + " "),
      (3L, core.replace("tok37 ", "changed ")),
      (9L, "totally different text about watermark state stores"),
      (10L, (100 to 160).map(i => s"v$i").mkString(" ")))
      .toDF("doc_id", "text")
    val ledger = Dedup.dedupCorpusTiered(corpus, "doc_id", "text",
        useSimhashTier = false)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(!ledger.values.exists(_ == "simhash"), ledger.toString)
    val keptTiered = ledger.filter(_._2 == "kept").keySet
    val keptOph = Dedup.dedupCorpusOph(corpus, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptTiered == keptOph, s"$keptTiered vs $keptOph")
  }

  test("dedupCorpusTiered(chainWitnesses = true): a simhash-removed doc " +
      "witnesses an OPH removal it would otherwise mask") {
    // The judge's chain: A~B tier-2-tight, B~C OPH-loose, A not~ C.
    // B = A's tokens REVERSED — identical token multiset, so simhash
    // hamming(A,B) = 0 (tier 2 removes B) while bigram Jaccard(A,B) ~ 0
    // (OPH alone would never remove B). C = B with sparse token edits —
    // OPH-similar to B, dissimilar to A in bigram space.
    val toks = (1 to 100).map(i => s"tok$i")
    val a = toks.mkString(" ")
    val b = toks.reverse.mkString(" ")
    val c = toks.reverse.zipWithIndex.map { case (t, i) =>
      if (i % 15 == 7) s"zzchangedword$i" else t }.mkString(" ")
    val corpus = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
    // fixture preconditions, asserted so drift fails loudly: tier 2
    // catches exactly (1,2); B~C is NOT within the simhash ball
    val rm2 = Dedup.simhashNearDupPairs(corpus, "doc_id", "text", 3)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(rm2 == Set((1L, 2L)), s"fixture drift: simhash pairs $rm2")
    // default: B's removal hides the B~C witness -> C leaks through
    val keptDefault = Dedup.dedupCorpusTiered(corpus, "doc_id", "text")
      .filter(col("tier") === "kept")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptDefault == Set(1L, 3L), s"default kept $keptDefault")
    // chainWitnesses: B signs as an index-only witness -> C removed,
    // attributed to the oph tier; B stays attributed to simhash
    val ledgerW = Dedup.dedupCorpusTiered(corpus, "doc_id", "text",
        chainWitnesses = true)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(ledgerW == Map(1L -> "kept", 2L -> "simhash", 3L -> "oph"),
      ledgerW.toString)
    // removal-superset property vs the single-detector baseline
    val keptOph = Dedup.dedupCorpusOph(corpus, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ledgerW.filter(_._2 == "kept").keySet.subsetOf(keptOph))
  }

  test("bruteForceTopK returns self first, then nearest") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(-1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val got = Similarity.bruteForceTopK(vecs, "vec_id", "embedding", Seq(1.0, 0.0, 0.0), 2)
      .collect().map(_.getLong(0))
    assert(got.toSeq == Seq(0L, 1L))
  }

  test("embeddingNearDup finds only the close pair") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.99f, 0.01f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 1.0f, 0.0f))).toDF("id", "v")
    val got = Dedup.embeddingNearDup(vecs, "id", "v", threshold = 0.95, nBits = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((0L, 1L)))
  }

  test("ivfTopK returns k rows led by exact matches") {
    val vecs = (0L until 40L).map(i =>
      (i, Array.tabulate(4)(d => if (d == (i % 4).toInt) 1.0f else 0.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.ivfTopK(vecs, "vec_id", "embedding",
      Seq(1.0, 0.0, 0.0, 0.0), k = 3, nLists = 4, nProbe = 2)
    assert(got.count() == 3)
    assert(got.head.getAs[Double]("cosine") > 0.99)
  }

  test("dedupIncremental: existing wins, fresh kept, monotone ids enforced") {
    val existing = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "completely different text about spark joins and shuffles")).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, "the quick brown fox jumps over the lazy dog tonight"), // exact copy → dropped
      (11L, "quick brown fox jumps over the lazy dog tonight"),     // near-dup → dropped
      (12L, "entirely novel content nothing like the corpus at all"), // fresh → kept
      (13L, "entirely novel content nothing like the corpus at all")) // dup WITHIN batch → dropped
      .toDF("doc_id", "text")
    val got = Dedup.dedupIncremental(existing, incoming, "doc_id", "text",
      threshold = 0.6, shingleN = 2, k = 16, bands = 4)
      .select("doc_id").as[Long].collect().toSet
    assert(got == Set(12L), s"got $got")
    // overlapping id spaces refuse loudly
    val bad = Seq((1L, "x y z")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.dedupIncremental(existing, bad, "doc_id", "text")
    }
    assert(e.getMessage.contains("monotone"))
  }

  test("dedupIncremental refuses string-typed id columns (lexicographic min)") {
    val existing = Seq(("99", "some text here")).toDF("doc_id", "text")
    val incoming = Seq(("100", "other text there")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.dedupIncremental(existing, incoming, "doc_id", "text")
    }
    assert(e.getMessage.contains("numeric id column"), e.getMessage)
  }

  // shared fixture for the signature-index tests: existing corpus with an
  // internal ws-dup + null text, batch with every incremental case
  private def indexFixture = {
    val existing = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (2L, "completely unrelated text about spark catalyst and tungsten engines"),
      (3L, "another unrelated document mentioning watermarks and state stores"),
      (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the river bank"), // exact of 1
      (11L, "quick brown fox jumps over the lazy dog near the river bank"),     // near-dup of 1
      (12L, "entirely novel content nothing like the corpus at all today"),     // fresh
      (13L, "entirely novel content nothing like the corpus at all today"),     // dup WITHIN batch
      (14L, "entirely novel content nothing like the corpus at all tonight"),   // near-dup of 12
      (15L, null.asInstanceOf[String]))                                         // null text kept
      .toDF("doc_id", "text")
    (existing, incoming)
  }

  test("dedupIncrementalIndexed matches dedupIncremental exactly") {
    val (existing, incoming) = indexFixture
    val idx = java.nio.file.Files.createTempDirectory("graft_sigidx")
      .resolve("idx").toString
    Dedup.writeSignatureIndex(existing, "doc_id", "text", idx,
      shingleN = 2, k = 16, bands = 4, nBuckets = 8)
    val union = Dedup.dedupIncremental(existing, incoming, "doc_id", "text",
      threshold = 0.6, shingleN = 2, k = 16, bands = 4)
      .select("doc_id").as[Long].collect().toSet
    val indexed = Dedup.dedupIncrementalIndexed(incoming, idx, "doc_id", "text",
      threshold = 0.6)
      .select("doc_id").as[Long].collect().toSet
    assert(indexed == union, s"index path $indexed != union path $union")
    assert(indexed == Set(12L, 15L), s"got $indexed")
  }

  test("signature index never stores or reads the corpus text") {
    val (existing, incoming) = indexFixture
    val idx = java.nio.file.Files.createTempDirectory("graft_sigidx2")
      .resolve("idx").toString
    Dedup.writeSignatureIndex(existing, "doc_id", "text", idx,
      shingleN = 2, k = 16, bands = 4, nBuckets = 8)
    // the index holds hashes/signatures/shingles — no text column anywhere
    for (rel <- Seq("docs", "postings", "hashes")) {
      val fields = spark.read.parquet(s"$idx/$rel").schema.fieldNames.toSet
      assert(!fields.contains("text") && !fields.contains("__text"),
        s"$rel stores text: $fields")
    }
    // the probe plan prunes every index scan by partition (isin literals
    // collected from the BATCH — per-batch cost, not per-corpus)
    val probe = Dedup.dedupIncrementalIndexed(incoming, idx, "doc_id", "text",
      threshold = 0.6)
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [ib"),
      s"docs/ scan not partition-pruned:\n$plan")
  }

  test("indexed probe applies bucket caps to COMBINED existing+batch membership") {
    // 6 existing + 3 incoming near-identical docs share LSH buckets. A
    // batch-only bucket count (3) passes a cap of 4, but the COMBINED
    // membership (9) must not — the index path has to agree with the
    // union path at every cap, and the cap must visibly change the
    // outcome (more batch survivors under the tight cap).
    // 19 shared tokens + one unique trailing word: a pair can only share a
    // band key when NEITHER doc's unique shingle won that band, so every
    // shared bucket is a big "core" bucket — the cap decides everything
    val mk = (i: Int) => "alpha beta gamma delta epsilon zeta eta theta iota " +
      s"kappa lambda mu nu xi omicron pi rho sigma tau word$i"
    val existing = (1 to 10).map(i => (i.toLong, mk(i))).toDF("doc_id", "text")
    val incoming = (11 to 13).map(i => (i.toLong, mk(i))).toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("graft_sigidx3")
      .resolve("idx").toString
    Dedup.writeSignatureIndex(existing, "doc_id", "text", idx,
      shingleN = 2, k = 16, bands = 4, nBuckets = 8)
    val bySetting = Seq(4, 1000).map { cap =>
      val union = Dedup.dedupIncremental(existing, incoming, "doc_id", "text",
        threshold = 0.5, shingleN = 2, k = 16, bands = 4, maxBucket = cap)
        .select("doc_id").as[Long].collect().toSet
      val indexed = Dedup.dedupIncrementalIndexed(incoming, idx, "doc_id", "text",
        threshold = 0.5, maxBucket = cap)
        .select("doc_id").as[Long].collect().toSet
      assert(indexed == union, s"cap=$cap: index path $indexed != union path $union")
      indexed
    }
    assert(bySetting(1).subsetOf(bySetting(0)) && bySetting(0) != bySetting(1),
      s"tight cap must suppress removals: cap4=${bySetting(0)} cap1000=${bySetting(1)}")
  }

  test("appendToSignatureIndex: rolling index equals a rebuilt one") {
    val (existing, batch1) = indexFixture
    val idx = java.nio.file.Files.createTempDirectory("graft_sigidx5")
      .resolve("idx").toString
    Dedup.writeSignatureIndex(existing, "doc_id", "text", idx,
      shingleN = 2, k = 16, bands = 4, nBuckets = 8)
    val surv1 = Dedup.dedupIncrementalIndexed(batch1, idx, "doc_id", "text",
      threshold = 0.6)
    Dedup.appendToSignatureIndex(surv1, "doc_id", "text", idx)
    // batch2: copy of a batch1 survivor (dropped), near-dup of a batch1
    // survivor (dropped), fresh (kept)
    val batch2 = Seq(
      (20L, "entirely novel content nothing like the corpus at all today"),
      (21L, "entirely novel content nothing like the corpus at all  TODAY"),
      (22L, "genuinely brand new material for the second ingestion wave"))
      .toDF("doc_id", "text")
    val got = Dedup.dedupIncrementalIndexed(batch2, idx, "doc_id", "text",
      threshold = 0.6).select("doc_id").as[Long].collect().toSet
    // union-path truth over existing ∪ batch1 survivors
    val expect = Dedup.dedupIncremental(existing.unionByName(surv1), batch2,
      "doc_id", "text", threshold = 0.6, shingleN = 2, k = 16, bands = 4)
      .select("doc_id").as[Long].collect().toSet
    assert(got == expect, s"rolling $got != rebuilt-union $expect")
    assert(got == Set(22L), s"got $got")
    // non-monotone append refuses
    val e = intercept[IllegalArgumentException] {
      Dedup.appendToSignatureIndex(
        Seq((1L, "x")).toDF("doc_id", "text"), "doc_id", "text", idx)
    }
    assert(e.getMessage.contains("monotone"), e.getMessage)
  }

  test("signatureIndexMaintenanceDue: appends trip the file trigger, " +
      "compact clears it; boilerplate band keys trip the skew trigger") {
    val (existing, _) = indexFixture
    val idx = java.nio.file.Files.createTempDirectory("graft_sigidx_m")
      .resolve("idx").toString
    Dedup.writeSignatureIndex(existing, "doc_id", "text", idx,
      shingleN = 2, k = 16, bands = 4, nBuckets = 8)
    val fresh = Dedup.signatureIndexMaintenanceDue(spark, idx,
      maxFilesPerBucket = 2)
    assert(!fresh.fileTrigger && fresh.action != "compact", fresh.toString)
    for (b <- 0 until 3) {
      val batch = Seq((100L + b,
        s"fresh append number $b with its own entirely distinct words"))
        .toDF("doc_id", "text")
      Dedup.appendToSignatureIndex(batch, "doc_id", "text", idx)
    }
    val aged = Dedup.signatureIndexMaintenanceDue(spark, idx,
      maxFilesPerBucket = 2)
    assert(aged.fileTrigger && aged.action == "compact", aged.toString)
    Dedup.compactSignatureIndex(spark, idx)
    val compacted = Dedup.signatureIndexMaintenanceDue(spark, idx,
      maxFilesPerBucket = 2)
    assert(!compacted.fileTrigger && compacted.action == "none",
      compacted.toString)

    // skew: near-identical docs share band keys, concentrating postings
    // in a few kb buckets — rebucket dominates compact when both fire
    val hotIdx = java.nio.file.Files.createTempDirectory("graft_sigidx_s")
      .resolve("idx").toString
    // identical bodies would collapse at the exact tier (the index
    // precondition) — vary one trailing token so docs are distinct but
    // their minhash bands still collide
    val hot = (1L to 120L).map(i =>
      (i, s"identical boilerplate body shared by every document t$i"))
      .toDF("doc_id", "text")
    Dedup.writeSignatureIndex(hot, "doc_id", "text", hotIdx,
      shingleN = 2, k = 16, bands = 4, nBuckets = 32)
    val skewed = Dedup.signatureIndexMaintenanceDue(spark, hotIdx,
      skewThreshold = 3.0)
    assert(skewed.skewTrigger && skewed.action == "rebucket-rebuild",
      skewed.toString)
  }

  test("compactSignatureIndex: one file per bucket, probe results unchanged") {
    val (existing, batch1) = indexFixture
    val idx = java.nio.file.Files.createTempDirectory("graft_sigidx7")
      .resolve("idx").toString
    Dedup.writeSignatureIndex(existing, "doc_id", "text", idx,
      shingleN = 2, k = 16, bands = 4, nBuckets = 8)
    val surv1 = Dedup.dedupIncrementalIndexed(batch1, idx, "doc_id", "text",
      threshold = 0.6)
    Dedup.appendToSignatureIndex(surv1, "doc_id", "text", idx)
    val batch2 = Seq(
      (20L, "entirely novel content nothing like the corpus at all  TODAY"),
      (21L, "genuinely brand new material for the second ingestion wave"))
      .toDF("doc_id", "text")
    def parts(rel: String): Map[String, Int] = {
      val root = java.nio.file.Paths.get(idx, rel)
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(root).iterator().asScala
        .filter(p => p.toString.endsWith(".parquet"))
        .toSeq.groupBy(_.getParent.getFileName.toString)
        .map { case (k, v) => (k, v.size) }
    }
    // post-append: touched buckets hold 2 files (base + batch)
    assert(parts("docs").values.max >= 2, s"append should add files: ${parts("docs")}")
    val before = Dedup.dedupIncrementalIndexed(batch2, idx, "doc_id", "text",
      threshold = 0.6).select("doc_id").as[Long].collect().toSet
    Dedup.compactSignatureIndex(spark, idx)
    for (rel <- Seq("docs", "postings", "hashes"))
      assert(parts(rel).values.max == 1,
        s"compaction must leave one file per bucket in $rel: ${parts(rel)}")
    // the compacted index is compact: compacting it again is free
    IndexCheck.assertFreeCompaction(idx)(Dedup.compactSignatureIndex(spark, idx))
    val after = Dedup.dedupIncrementalIndexed(batch2, idx, "doc_id", "text",
      threshold = 0.6).select("doc_id").as[Long].collect().toSet
    assert(after == before && before == Set(21L),
      s"compaction changed probe results: $before -> $after")
    // a further append still works against the compacted index
    Dedup.appendToSignatureIndex(
      Seq((21L, "genuinely brand new material for the second ingestion wave"))
        .toDF("doc_id", "text"), "doc_id", "text", idx)
    val third = Dedup.dedupIncrementalIndexed(
      Seq((30L, "genuinely brand new material for the second ingestion wave"))
        .toDF("doc_id", "text"), idx, "doc_id", "text", threshold = 0.6)
      .count()
    assert(third == 0L, "post-compact append must keep deduplicating")
  }

  test("removeFromSignatureIndex: dropped docs lose their dedup identity") {
    val (existing, _) = indexFixture
    val idx = java.nio.file.Files.createTempDirectory("graft_sigidx8")
      .resolve("idx").toString
    Dedup.writeSignatureIndex(existing, "doc_id", "text", idx,
      shingleN = 2, k = 16, bands = 4, nBuckets = 8)
    val copyOf1 = Seq(
      (40L, "the quick brown fox jumps over the lazy dog near the river bank"))
      .toDF("doc_id", "text")
    assert(Dedup.dedupIncrementalIndexed(copyOf1, idx, "doc_id", "text",
      threshold = 0.6).count() == 0L, "copy of doc 1 must be dropped pre-removal")
    Dedup.removeFromSignatureIndex(spark, idx,
      Seq(1L).toDF("doc_id"), "doc_id")
    // the removed doc's copy now survives; other docs keep deduplicating
    val after = Dedup.dedupIncrementalIndexed(
      copyOf1.unionByName(Seq(
        (41L, "completely unrelated text about spark catalyst and tungsten engines"))
        .toDF("doc_id", "text")), idx, "doc_id", "text", threshold = 0.6)
      .select("doc_id").as[Long].collect().toSet
    assert(after == Set(40L), s"post-removal survivors: $after")
    // removal also compacted: one file per bucket
    import scala.jdk.CollectionConverters._
    val maxFiles = java.nio.file.Files.walk(java.nio.file.Paths.get(idx, "docs"))
      .iterator().asScala.filter(_.toString.endsWith(".parquet"))
      .toSeq.groupBy(_.getParent).map(_._2.size).max
    assert(maxFiles == 1)
    // refusing to empty the index entirely
    val e = intercept[IllegalArgumentException] {
      Dedup.removeFromSignatureIndex(spark, idx,
        existing.select("doc_id"), "doc_id")
    }
    assert(e.getMessage.contains("every indexed document"), e.getMessage)
    // the refusal leaves no staging debris behind
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(idx, "_compact_tmp")),
      "a refused removal must delete _compact_tmp")
  }

  test("signature index: a stale stash refuses rewrites; rebuild clears " +
      "the stash and _compact_tmp") {
    val (existing, _) = indexFixture
    val idx = java.nio.file.Files.createTempDirectory("graft_sigstash")
      .resolve("idx").toString
    def build(): Unit = Dedup.writeSignatureIndex(existing, "doc_id", "text",
      idx, shingleN = 2, k = 16, bands = 4, nBuckets = 8)
    build()
    val copyOf1 = Seq(
      (40L, "the quick brown fox jumps over the lazy dog near the river bank"))
      .toDF("doc_id", "text")
    def probe() = Dedup.dedupIncrementalIndexed(copyOf1, idx, "doc_id", "text",
      threshold = 0.6).count()
    assert(probe() == 0L)
    // a rewrite that crashed after its swap left a stash and its tmp copy
    val stash = java.nio.file.Paths.get(idx, "_docs_old")
    val tmpRoot = java.nio.file.Paths.get(idx, "_compact_tmp")
    for (d <- Seq(stash.resolve("ib=0"), tmpRoot.resolve("docs").resolve("ib=0"))) {
      java.nio.file.Files.createDirectories(d)
      java.nio.file.Files.write(d.resolve("part-0.parquet"), Array[Byte](1, 2, 3))
    }
    val e = intercept[IllegalStateException](Dedup.removeFromSignatureIndex(
      spark, idx, Seq(1L).toDF("doc_id"), "doc_id"))
    assert(e.getMessage.contains("_docs_old"), e.getMessage)
    assert(probe() == 0L, "the live index still serves")
    build() // the documented recovery
    assert(!java.nio.file.Files.exists(stash), "rebuild must clear the stash")
    assert(!java.nio.file.Files.exists(tmpRoot), "rebuild must clear _compact_tmp")
    assert(probe() == 0L)
  }

  test("dedupCorpusTransitiveBy keeps the best-scoring cluster member") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta", 7.0),
      // longer near-dup of 1 — keep-best must keep THIS one, where the
      // min-id path would keep doc 1
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota", 9.0),
      (3L, "totally unrelated content about catalyst and tungsten", 6.0),
      // same score as its near-dup 5 → tie breaks to the smaller id
      (5L, "one two three four five six seven eight nine", 9.0),
      (6L, "one two three four five six seven eight ten", 9.0),
      (9L, null.asInstanceOf[String], 0.0))
      .toDF("doc_id", "text", "score")
    val got = Dedup.dedupCorpusTransitiveBy(docs, "doc_id", "text", "score",
        threshold = 0.5, shingleN = 2, k = 16, bands = 4)
      .select("doc_id").as[Long].collect().toSet
    assert(got == Set(2L, 3L, 5L, 9L), s"got $got")
    // min-id path on the same fixture keeps 1 — policies genuinely differ
    val minId = Dedup.dedupCorpusTransitive(docs.drop("score"), "doc_id",
        "text", threshold = 0.5, shingleN = 2, k = 16, bands = 4)
      .select("doc_id").as[Long].collect().toSet
    assert(minId == Set(1L, 3L, 5L, 9L), s"min-id got $minId")
  }

  test("pqTopK: split path parity, donor self-query at ADC zero") {
    import graft.operators.Similarity
    // 64-dim deterministic vectors, ids 0..49
    val vecs = spark.range(50).select(col("id").as("vec_id"),
      expr("transform(sequence(0, 63), d -> " +
        "CAST(pmod(id * (d + 7) + d, 97) AS DOUBLE) / 97.0)").as("embedding"))
    val donors = Similarity.pqDonors(vecs, "vec_id", "embedding", nCodes = 8)
    assert(donors.length == 8 && donors.map(_._1).sorted.sameElements(donors.map(_._1)))
    val q = vecs.filter(col("vec_id") === donors.head._1)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    // one-shot == donors → encode → search
    val oneShot = Similarity.pqTopK(vecs, "vec_id", "embedding", q, k = 5,
        m = 8, nCodes = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val split = Similarity.pqSearchCodes(
        Similarity.pqEncode(vecs, "vec_id", "embedding", donors, m = 8),
        "vec_id", donors, q, k = 5, m = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(oneShot == split, s"$oneShot vs $split")
    // the query IS a donor: its own subvectors code to themselves, so its
    // ADC is exactly zero and it ranks first
    assert(oneShot.head._1 == donors.head._1 && oneShot.head._2 == 0.0,
      s"donor self-query must be rank 1 at ADC 0: $oneShot")
    // codes are m donor ids
    val codes = Similarity.pqEncode(vecs, "vec_id", "embedding", donors, m = 8)
      .select("pq_codes").as[Seq[Long]].collect()
    val donorIds = donors.map(_._1).toSet
    assert(codes.forall(c => c.length == 8 && c.forall(donorIds.contains)))
  }

  test("ivfPqTopK: subset of full-PQ ranking, probe widening converges") {
    import graft.operators.Similarity
    val vecs = spark.range(80).select(col("id").as("vec_id"),
      expr("transform(sequence(0, 63), d -> " +
        "CAST(pmod(id * (d + 7) + d, 97) AS DOUBLE) / 97.0)").as("embedding"))
    val q = vecs.filter(col("vec_id") === 3)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val full = Similarity.pqTopK(vecs, "vec_id", "embedding", q, k = 80,
        m = 8, nCodes = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val pruned = Similarity.ivfPqTopK(vecs, "vec_id", "embedding", q, k = 10,
        nLists = 8, nProbe = 2, m = 8, nCodes = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    // pruning never invents results: every ADC equals the full-PQ ADC
    pruned.foreach { case (id, adc) =>
      assert(full.contains(id) && math.abs(full(id) - adc) < 1e-12,
        s"id $id: pruned adc $adc vs full ${full.get(id)}")
    }
    // probing ALL lists recovers exactly the unpruned top-10
    val allLists = Similarity.ivfPqTopK(vecs, "vec_id", "embedding", q,
        k = 10, nLists = 8, nProbe = 8, m = 8, nCodes = 8)
      .collect().map(_.getLong(0)).toSeq
    val top10 = Similarity.pqTopK(vecs, "vec_id", "embedding", q, k = 10,
        m = 8, nCodes = 8).collect().map(_.getLong(0)).toSeq
    assert(allLists == top10, s"$allLists vs $top10")
  }

  test("persisted IVF-PQ index: parity with one-shot, pruned probe scan") {
    import graft.operators.Similarity
    val vecs = spark.range(80).select(col("id").as("vec_id"),
      expr("transform(sequence(0, 63), d -> " +
        "CAST(pmod(id * (d + 7) + d, 97) AS DOUBLE) / 97.0)").as("embedding"))
    val q = vecs.filter(col("vec_id") === 3)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val idx = java.nio.file.Files.createTempDirectory("graft_pqidx")
      .resolve("idx").toString
    Similarity.writeIvfPqIndex(vecs, "vec_id", "embedding", idx,
      nLists = 8, m = 8, nCodes = 8)
    val probe = Similarity.ivfPqTopKIndexed(spark, idx, "vec_id", q,
      k = 10, nProbe = 2)
    // sidecar round trip: indexed probe == one-shot, id and ADC both
    val oneShot = Similarity.ivfPqTopK(vecs, "vec_id", "embedding", q,
        k = 10, nLists = 8, nProbe = 2, m = 8, nCodes = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val indexed = probe.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(indexed == oneShot, s"indexed $indexed vs one-shot $oneShot")
    // the probe scan is PARTITION-PRUNED on ivf_list, and the codes
    // relation holds only (id, codes, list) — never raw vectors
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [ivf_list"),
      s"codes/ scan not partition-pruned:\n$plan")
    assert(!spark.read.parquet(s"$idx/codes").schema.fieldNames.contains("embedding"))
    // file count bounded by list count (clustered write)
    import scala.jdk.CollectionConverters._
    val maxFiles = java.nio.file.Files.walk(java.nio.file.Paths.get(idx, "codes"))
      .iterator().asScala.filter(_.toString.endsWith(".parquet"))
      .toSeq.groupBy(_.getParent).map(_._2.size).max
    assert(maxFiles == 1, s"clustered write must bound files/list, got $maxFiles")
    // a null vector slot is refused by the native nearest-centroid
    // kernel, at build and at append, never read as a number
    def rc(t: Throwable): Throwable =
      if (t.getCause == null) t else rc(t.getCause)
    val holed = spark.range(80, 81).select(col("id").as("vec_id"),
      expr("transform(sequence(0, 63), d -> IF(d = 5, CAST(NULL AS DOUBLE), " +
        "CAST(d AS DOUBLE) / 64.0))").as("embedding"))
    val idxHoled = java.nio.file.Files.createTempDirectory("graft_pqnull")
      .resolve("idx").toString
    for (refused <- Seq(
        () => Similarity.writeIvfPqIndex(vecs.unionByName(holed), "vec_id",
          "embedding", idxHoled, nLists = 8, m = 8, nCodes = 8),
        () => Similarity.appendToIvfPqIndex(holed, "vec_id", "embedding",
          idx))) {
      val e = rc(intercept[Exception](refused()))
      assert(e.isInstanceOf[IllegalArgumentException] &&
        e.getMessage.contains("null array element at index 5"), e.toString)
    }
    // the refused append wrote nothing: no pending marker is left, the
    // index answers exactly as before, and a later valid append commits
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(idx, "_pending_append.json")))
    val after = Similarity.ivfPqTopKIndexed(spark, idx, "vec_id", q,
      k = 10, nProbe = 2).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(after == indexed, s"after refused append $after vs $indexed")
    Similarity.appendToIvfPqIndex(spark.range(80, 82).select(
      col("id").as("vec_id"), expr("transform(sequence(0, 63), d -> " +
        "CAST(d AS DOUBLE) / 64.0)").as("embedding")), "vec_id", "embedding", idx)
    assert(spark.read.parquet(s"$idx/codes").count() == 82)
  }

  test("rolling IVF-PQ index: append == rebuild-with-frozen-codebooks, " +
      "compaction preserves probes, takedown counts actual removals") {
    import graft.operators.Similarity
    val vecs = spark.range(120).select(col("id").as("vec_id"),
      expr("transform(sequence(0, 63), d -> " +
        "CAST(pmod(id * (d + 11) + d * 3, 101) AS DOUBLE) / 101.0)").as("embedding"))
    val q = vecs.filter(col("vec_id") === 5)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val first = vecs.filter(col("vec_id") < 60)
    val idxRoll = java.nio.file.Files.createTempDirectory("graft_pqroll")
      .resolve("idx").toString
    val idxFull = java.nio.file.Files.createTempDirectory("graft_pqfull")
      .resolve("idx").toString
    Similarity.writeIvfPqIndex(first, "vec_id", "embedding", idxRoll,
      nLists = 8, m = 8, nCodes = 8)
    // two appends so the multi-batch monotone chain is exercised
    Similarity.appendToIvfPqIndex(
      vecs.filter(col("vec_id") >= 60 && col("vec_id") < 90),
      "vec_id", "embedding", idxRoll)
    Similarity.appendToIvfPqIndex(vecs.filter(col("vec_id") >= 90),
      "vec_id", "embedding", idxRoll)
    // reference: one-shot full build with the SAME (first-half) codebooks
    val cb = Similarity.pqDonors(first, "vec_id", "embedding", 8)
    Similarity.writeIvfPqIndex(vecs, "vec_id", "embedding", idxFull,
      nLists = 8, m = 8, nCodes = 8,
      centroidsOpt = Some(cb), donorsOpt = Some(cb))
    def probe(p: String) = Similarity.ivfPqTopKIndexed(spark, p, "vec_id",
        q, k = 15, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(probe(idxRoll) == probe(idxFull),
      "rolled index must equal a frozen-codebook rebuild")
    // non-monotone append refuses
    intercept[IllegalArgumentException] {
      Similarity.appendToIvfPqIndex(vecs.filter(col("vec_id") === 10),
        "vec_id", "embedding", idxRoll)
    }
    // compaction: probes unchanged, one file per list again
    Similarity.compactIvfPqIndex(spark, idxRoll)
    assert(probe(idxRoll) == probe(idxFull), "compaction changed probe results")
    import scala.jdk.CollectionConverters._
    val maxFiles = java.nio.file.Files.walk(
        java.nio.file.Paths.get(idxRoll, "codes"))
      .iterator().asScala.filter(_.toString.endsWith(".parquet"))
      .toSeq.groupBy(_.getParent).map(_._2.size).max
    assert(maxFiles == 1, s"compaction must leave one file per list, got $maxFiles")
    IndexCheck.assertFreeCompaction(idxRoll)(Similarity.compactIvfPqIndex(spark, idxRoll))
    // takedown: drop ids 0..9 plus ids that were never indexed — nVecs
    // must fall by the 10 ACTUALLY removed (never by request cardinality)
    Similarity.removeFromIvfPqIndex(spark, idxRoll,
      spark.range(10).select(col("id").as("vec_id"))
        .unionByName(spark.range(5000, 5003).select(col("id").as("vec_id"))),
      "vec_id")
    val after = probe(idxRoll)
    assert(after.forall(_._1 >= 10), s"dropped ids still probed: $after")
    assert(spark.read.parquet(s"$idxRoll/codes").count() == 110)
    val metaRaw = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(idxRoll, "_ivfpq_meta.json")), "UTF-8")
    assert(metaRaw.contains("\"nVecs\":110"), metaRaw)
    assert(metaRaw.contains("\"maxId\":119"), metaRaw)
    // a second identical takedown removes nothing more — no stats drift
    Similarity.removeFromIvfPqIndex(spark, idxRoll,
      spark.range(10).select(col("id").as("vec_id")), "vec_id")
    val metaRaw2 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(idxRoll, "_ivfpq_meta.json")), "UTF-8")
    assert(metaRaw2.contains("\"nVecs\":110"), metaRaw2)
    // crash safety: a stranded pending marker makes every entry point
    // refuse (probe, append, compact) until rebuild clears it
    java.nio.file.Files.write(
      java.nio.file.Paths.get(idxRoll, "_pending_append.json"),
      """{"minId":500,"maxId":510,"n":11}""".getBytes("UTF-8"))
    intercept[IllegalStateException] {
      Similarity.ivfPqTopKIndexed(spark, idxRoll, "vec_id", q, k = 5)
    }
    intercept[IllegalStateException] {
      Similarity.compactIvfPqIndex(spark, idxRoll)
    }
    // rebuild is the documented recovery: it clears the marker
    Similarity.writeIvfPqIndex(vecs, "vec_id", "embedding", idxRoll,
      nLists = 8, m = 8, nCodes = 8)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(idxRoll, "_pending_append.json")))
    assert(probe(idxRoll).nonEmpty)
  }

  test("IVF-PQ rewrite: stash-aside swap keeps a recoverable copy; a " +
      "stale stash refuses") {
    import graft.operators.Similarity
    val vecs = spark.range(60).select(col("id").as("vec_id"),
      expr("transform(sequence(0, 15), d -> " +
        "CAST(pmod(id * (d + 7) + d, 53) AS DOUBLE) / 53.0)").as("embedding"))
    val idx = java.nio.file.Files.createTempDirectory("graft_pqstash")
      .resolve("idx").toString
    Similarity.writeIvfPqIndex(vecs, "vec_id", "embedding", idx,
      nLists = 4, m = 4, nCodes = 4)
    val q = vecs.filter(col("vec_id") === 3)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    def probe() = Similarity.ivfPqTopKIndexed(spark, idx, "vec_id", q,
      k = 5, nProbe = 4).collect().map(_.getLong(0)).toSeq
    val want = probe()
    // a normal compact leaves no stash behind and preserves probes
    Similarity.compactIvfPqIndex(spark, idx)
    val stash = java.nio.file.Paths.get(idx, "_codes_old")
    assert(!java.nio.file.Files.exists(stash),
      "a completed rewrite must delete its stash")
    assert(probe() == want)
    // simulate a rewrite that crashed mid-swap: the stash dir survives —
    // the next rewrite must refuse (renaming onto it would nest the live
    // codes inside and swap over polluted state), the index still serves
    java.nio.file.Files.createDirectory(stash)
    val e = intercept[IllegalStateException](
      Similarity.compactIvfPqIndex(spark, idx))
    assert(e.getMessage.contains("_codes_old"), e.getMessage)
    assert(probe() == want, "live index must be untouched by the refusal")
    // the crashed rewrite's tmp copy survived too
    val tmpRoot = java.nio.file.Paths.get(idx, "_compact_tmp")
    val tmpPart = tmpRoot.resolve("codes").resolve("ivf_list=0").resolve("part-0.parquet")
    java.nio.file.Files.createDirectories(tmpPart.getParent)
    java.nio.file.Files.write(tmpPart, Array[Byte](1, 2, 3))
    // rebuild (the documented recovery) clears the stash and the tmp
    Similarity.writeIvfPqIndex(vecs, "vec_id", "embedding", idx,
      nLists = 4, m = 4, nCodes = 4)
    assert(!java.nio.file.Files.exists(stash), "rebuild must clear the stash")
    assert(!java.nio.file.Files.exists(tmpRoot), "rebuild must clear _compact_tmp")
    Similarity.compactIvfPqIndex(spark, idx)
    assert(probe() == want)
  }

  test("residual IVF-PQ: ADC error well under plain encoding on " +
      "clustered data; rolling append preserves frozen-codebook parity") {
    import graft.operators.Similarity
    // 16 well-separated clusters, 32-d, but only 8 PQ codebook rows:
    // plain PQ must span 16 per-subspace offsets with 8 donors (error ~
    // cluster gap), residual PQ only spans the within-list noise. The
    // coarse quantizer is LEARNED (k-means recovers the 16 means) — the
    // realistic serving configuration, and the centroidsOpt+residual
    // combination under test.
    val vecs = spark.range(200).select(col("id").as("vec_id"),
      expr("transform(sequence(0, 31), d -> CAST((id % 16) * 10.0 + " +
        "pmod(id * (d + 5) + d, 7) / 7.0 AS DOUBLE))").as("embedding"))
    val learned: Array[(Long, Array[Double])] =
      Similarity.kmeansCentroids(vecs, "vec_id", "embedding", 16, iters = 5)
        .zipWithIndex.map { case (c, i) => (i.toLong, c) }
    val q = vecs.filter(col("vec_id") === 17)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val plain = java.nio.file.Files.createTempDirectory("graft_pqplain")
      .resolve("idx").toString
    val resid = java.nio.file.Files.createTempDirectory("graft_pqresid")
      .resolve("idx").toString
    Similarity.writeIvfPqIndex(vecs, "vec_id", "embedding", plain,
      nLists = 16, m = 4, nCodes = 8, centroidsOpt = Some(learned))
    Similarity.writeIvfPqIndex(vecs, "vec_id", "embedding", resid,
      nLists = 16, m = 4, nCodes = 8, centroidsOpt = Some(learned),
      residual = true)
    // exact squared distances, driver-side (200 × 32)
    val exact = vecs.select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map { r =>
        val v = r.getSeq[Double](1)
        r.getLong(0) -> v.indices.map(i => (v(i) - q(i)) * (v(i) - q(i))).sum
      }.toMap
    def meanErr(path: String): Double = {
      val adc = Similarity.ivfPqTopKIndexed(spark, path, "vec_id", q,
          k = 200, nProbe = 4)
        .collect().map(r => r.getLong(0) -> r.getDouble(1))
      adc.map { case (id, a) => math.abs(a - exact(id)) }.sum / adc.length
    }
    val (eP, eR) = (meanErr(plain), meanErr(resid))
    assert(eR < eP * 0.5,
      s"residual ADC error $eR should be well under plain $eP")
    // rolling append against frozen residual codebooks == one-shot build
    // with the same (build-half) codebooks
    val first = vecs.filter(col("vec_id") < 120)
    val roll = java.nio.file.Files.createTempDirectory("graft_pqresroll")
      .resolve("idx").toString
    val full = java.nio.file.Files.createTempDirectory("graft_pqresfull")
      .resolve("idx").toString
    Similarity.writeIvfPqIndex(first, "vec_id", "embedding", roll,
      nLists = 4, m = 4, nCodes = 8, residual = true)
    Similarity.appendToIvfPqIndex(vecs.filter(col("vec_id") >= 120),
      "vec_id", "embedding", roll)
    Similarity.writeIvfPqIndex(vecs, "vec_id", "embedding", full,
      nLists = 4, m = 4, nCodes = 8, residual = true,
      centroidsOpt = Some(Similarity.pqDonors(first, "vec_id", "embedding", 4)),
      donorsOpt = Some(Similarity.pqDonors(first, "vec_id", "embedding", 8,
        skip = 4)))
    def probe(p: String) = Similarity.ivfPqTopKIndexed(spark, p, "vec_id",
        q, k = 20, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(probe(roll) == probe(full),
      "rolled residual index must equal a frozen-codebook rebuild")
  }

  test("balanced-PQ permutation cuts ADC error when spread is unbalanced") {
    import graft.operators.Similarity
    // dims 0..7 wide (×100 the narrow spread, pseudo-independent via
    // per-dim multipliers mod 101), dims 8..31 narrow: the plain m=8
    // split packs all wide dims into subspaces 0-1 (a 4-d spread 16
    // codewords cannot cover); the deal gives every subspace exactly one
    // wide dim (a ~1-d spread 16 codewords cover well)
    val vecs = spark.range(200).select(col("id").as("vec_id"),
      expr("transform(sequence(0, 31), d -> CAST(CASE WHEN d < 8 THEN " +
        "pmod(id * (2 * d + 3) + d, 101) * 100.0 / 101.0 ELSE " +
        "pmod(id * (2 * d + 3) + d, 101) * 1.0 / 101.0 END AS DOUBLE))")
        .as("embedding"))
    val q = vecs.filter(col("vec_id") === 9)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val exact = vecs.select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map { r =>
        val v = r.getSeq[Double](1)
        r.getLong(0) -> v.indices.map(i => (v(i) - q(i)) * (v(i) - q(i))).sum
      }.toMap
    def meanErr(df: org.apache.spark.sql.DataFrame): Double = {
      val rows = df.collect().map(r => (r.getLong(0), r.getDouble(1)))
      rows.map { case (id, a) => math.abs(a - exact(id)) }.sum / rows.length
    }
    val eP = meanErr(Similarity.pqTopK(vecs, "vec_id", "embedding", q,
      k = 200, m = 8, nCodes = 16))
    val eB = meanErr(Similarity.pqTopKBalanced(vecs, "vec_id", "embedding",
      q, k = 200, m = 8, nCodes = 16))
    assert(eB < eP * 0.5, s"balanced ADC error $eB should be well under $eP")
    // the permutation is a true deal: each subspace holds exactly one of
    // the 8 wide dims
    val perm = Similarity.pqBalancedPerm(vecs, "vec_id", "embedding", 8)
    assert(perm.sorted.toSeq == (0 until 32),
      s"not a permutation: ${perm.toSeq}")
    val widePerSub = perm.grouped(4).map(_.count(_ < 8)).toSeq
    assert(widePerSub == Seq.fill(8)(1), s"wide dims per subspace: $widePerSub")
  }

  test("batched IVF-PQ probe equals per-query probes, plain and residual") {
    import graft.operators.Similarity
    val vecs = spark.range(120).select(col("id").as("vec_id"),
      expr("transform(sequence(0, 31), d -> CAST(pmod(id * (d + 11) + " +
        "d * 3, 101) AS DOUBLE) / 101.0)").as("embedding"))
    val qids = Seq(3L, 40L, 77L)
    val queries = vecs.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("query_id"), col("embedding"))
    for (residual <- Seq(false, true)) {
      val idx = java.nio.file.Files.createTempDirectory("graft_pqb")
        .resolve("idx").toString
      Similarity.writeIvfPqIndex(vecs, "vec_id", "embedding", idx,
        nLists = 8, m = 4, nCodes = 8, residual = residual)
      val batch = Similarity.ivfPqTopKIndexedBatch(spark, idx, "vec_id",
          queries, "query_id", "embedding", k = 7, nProbe = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .groupBy(_._1).view
        .mapValues(_.sortBy(x => (x._3, x._2)).map(x => (x._2, x._3)).toSeq)
        .toMap
      qids.foreach { qid =>
        val qv = vecs.filter(col("vec_id") === qid)
          .select(col("embedding").cast("array<double>")).head()
          .getSeq[Double](0)
        val single = Similarity.ivfPqTopKIndexed(spark, idx, "vec_id", qv,
            k = 7, nProbe = 3)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        assert(batch(qid) == single,
          s"residual=$residual qid=$qid: batch ${batch(qid)} vs $single")
      }
      // the one scan is partition-pruned to the UNION of probed lists
      val plan = Similarity.ivfPqTopKIndexedBatch(spark, idx, "vec_id",
          queries, "query_id", "embedding", k = 7, nProbe = 3)
        .queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters: [ivf_list"),
        s"batched scan not partition-pruned:\n$plan")
    }
    intercept[IllegalArgumentException] {
      Similarity.ivfPqTopKIndexedBatch(spark,
        java.nio.file.Files.createTempDirectory("x").toString, "vec_id",
        queries.select(col("query_id").as("vec_id"), col("embedding")),
        "vec_id", "embedding", k = 1)
    }
    // bounded-batch contract is ENFORCED: an over-maxBatch relation and an
    // over-budget broadcast ADC table both refuse loudly (driver-OOM guard)
    locally {
      val idx = java.nio.file.Files.createTempDirectory("graft_pqg")
        .resolve("idx").toString
      Similarity.writeIvfPqIndex(vecs, "vec_id", "embedding", idx,
        nLists = 8, m = 4, nCodes = 8)
      val eBatch = intercept[IllegalArgumentException] {
        Similarity.ivfPqTopKIndexedBatch(spark, idx, "vec_id", queries,
          "query_id", "embedding", k = 7, nProbe = 3, maxBatch = 2)
      }
      assert(eBatch.getMessage.contains("maxBatch"), eBatch.getMessage)
      val eAdc = intercept[IllegalArgumentException] {
        Similarity.ivfPqTopKIndexedBatch(spark, idx, "vec_id", queries,
          "query_id", "embedding", k = 7, nProbe = 3, maxAdcEntries = 10L)
      }
      assert(eAdc.getMessage.contains("maxAdcEntries"), eAdc.getMessage)
    }
  }

  test("hierarchical coarse assignment: near-total agreement with exact " +
      "on clustered data, appends reproduce the recorded mode") {
    import graft.operators.Similarity
    // 36 tight clusters, 32-d — nLists=36 → g=6 groups of ~6 centroids
    val vecs = spark.range(360).select(col("id").as("vec_id"),
      expr("transform(sequence(0, 31), d -> CAST((id % 36) * 10.0 + " +
        "pmod(id * (d + 5) + d, 7) / 7.0 AS DOUBLE))").as("embedding"))
    val exact = java.nio.file.Files.createTempDirectory("graft_pqex")
      .resolve("idx").toString
    val approx = java.nio.file.Files.createTempDirectory("graft_pqap")
      .resolve("idx").toString
    Similarity.writeIvfPqIndex(vecs, "vec_id", "embedding", exact,
      nLists = 36, m = 4, nCodes = 8)
    Similarity.writeIvfPqIndex(vecs, "vec_id", "embedding", approx,
      nLists = 36, m = 4, nCodes = 8, assignGroups = 4)
    def lists(p: String): Map[Long, Long] =
      spark.read.parquet(s"$p/codes")
        .select(col("vec_id"), col("ivf_list").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val (le, la) = (lists(exact), lists(approx))
    val agree = le.count { case (id, l) => la(id) == l }
    assert(agree >= 355, s"only $agree/360 assignments agree with exact")
    // the recorded mode survives the lifecycle: append + compact keep
    // working against an approx-assigned index, and probes stay sane
    Similarity.appendToIvfPqIndex(
      vecs.filter(col("vec_id") < 36)
        .select((col("vec_id") + 1000L).as("vec_id"), col("embedding")),
      "vec_id", "embedding", approx)
    Similarity.compactIvfPqIndex(spark, approx)
    val q = vecs.filter(col("vec_id") === 40)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val top = Similarity.ivfPqTopKIndexed(spark, approx, "vec_id", q,
        k = 5, nProbe = 2).collect().map(_.getLong(0))
    assert(top.length == 5, s"got ${top.toSeq}")
    val metaRaw = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(approx, "_ivfpq_meta.json")), "UTF-8")
    assert(metaRaw.contains("\"assignGroups\":4"), metaRaw)
    assert(metaRaw.contains("\"nVecs\":396"), metaRaw)
  }

  test("knnGraph: neighbors stay within planted clusters, k rows per " +
      "vector, no self-edges") {
    import spark.implicits._
    import graft.operators.Similarity
    // two tight antipodal clusters in 16-d: same-cluster cos ≈ 1,
    // cross-cluster cos ≈ -1
    def v(c: Int, i: Long): Array[Double] =
      Array.tabulate(16)(d =>
        (if (c == 0) 1.0 else -1.0) * (d + 1.0) + 0.001 * i * (d % 3))
    val vecs = ((0L until 10L).map(i => (i, v(0, i))) ++
      (10L until 20L).map(i => (i, v(1, i)))).toDF("vec_id", "embedding")
    val g = Similarity.knnGraph(vecs, "vec_id", "embedding", k = 3,
        nLists = 4, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(g.groupBy(_._1).size == 20 && g.length == 60,
      s"expected 3 neighbors for each of 20 vectors, got ${g.length}")
    assert(g.forall { case (a, b, _) => a != b }, "self-edge in kNN graph")
    assert(g.forall { case (a, b, cos) => (a < 10) == (b < 10) && cos > 0.9 },
      s"cross-cluster or low-cos edge: ${g.filterNot {
        case (a, b, cos) => (a < 10) == (b < 10) && cos > 0.9 }.mkString(",")}")
    // clustering over the same graph: exactly the two planted components,
    // labeled by their smallest member
    val clusters = Similarity.clusterEmbeddings(vecs, "vec_id", "embedding",
        k = 3, minCos = 0.9, nLists = 4, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(clusters.size == 20)
    assert((0L until 10L).forall(clusters(_) == 0L), s"$clusters")
    assert((10L until 20L).forall(clusters(_) == 10L), s"$clusters")
    // an unreachable threshold makes every vector its own singleton
    val single = Similarity.clusterEmbeddings(vecs, "vec_id", "embedding",
        k = 3, minCos = 1.5, nLists = 4, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(single.forall { case (id, c) => id == c })
    // SemDeDup keep-1: exactly one representative per planted cluster
    val kept = Similarity.semDedup(vecs, "vec_id", "embedding", k = 3,
        minCos = 0.9, keepPerCluster = 1, nLists = 4, nProbe = 2)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(0L, 10L), s"got $kept")
    // keep-BEST: a quality column flips survivorship to each cluster's
    // highest-scoring member (here quality = id, so the LARGEST ids win)
    val scored = vecs.withColumn("quality", col("vec_id").cast("double"))
    val best = Similarity.semDedup(scored, "vec_id", "embedding", k = 3,
        minCos = 0.9, keepPerCluster = 1, nLists = 4, nProbe = 2,
        keepByCol = Some("quality"))
      .collect().map(_.getLong(0)).toSet
    assert(best == Set(9L, 19L), s"got $best")
    // non-numeric keepBy refuses loudly
    val e = intercept[IllegalArgumentException] {
      Similarity.semDedup(vecs.withColumn("quality", lit("high")),
        "vec_id", "embedding", k = 3, minCos = 0.9,
        keepByCol = Some("quality"))
    }
    assert(e.getMessage.contains("numeric"), e.getMessage)
  }

  test("knnGraph hot-list cap bounds the candidate join under a dominant " +
      "cluster; every vector still gets neighbors") {
    import graft.operators.Similarity
    // one semantic cluster holds 80% of the corpus (the shape that turns
    // the list-keyed candidate join all-pairs within the hot list): 400 of
    // 500 vectors are tight around one center, the rest spread out
    val vecs = spark.range(500).select(col("id").as("vec_id"),
      expr("transform(sequence(0, 15), d -> CASE WHEN id < 400 " +
        "THEN 50.0 + CAST(pmod(id * (d + 3) + d, 17) AS DOUBLE) / 17.0 " +
        "ELSE CAST(pmod(id * (d + 11) + d * 5, 97) AS DOUBLE) END)")
        .as("embedding"))
    val cap = 40
    val nProbe = 2
    val capped = Similarity.knnCandidateEdges(vecs, "vec_id", "embedding",
      nLists = 8, nProbe = nProbe, maxListSize = cap)
    val uncapped = Similarity.knnCandidateEdges(vecs, "vec_id", "embedding",
      nLists = 8, nProbe = nProbe, maxListSize = Int.MaxValue)
    // the cap's contract: ≤ nProbe·cap candidates PER VECTOR (the uncapped
    // join blows past this — the dominant list alone contributes its full
    // membership to every prober)
    val perVec = capped.groupBy("id1").count().select(max("count")).head().getLong(0)
    assert(perVec <= nProbe.toLong * cap,
      s"per-vector candidates $perVec exceed nProbe*cap=${nProbe * cap}")
    val nCap = capped.count(); val nRaw = uncapped.count()
    assert(nCap < nRaw / 2,
      s"cap must shrink the hot-list join: capped=$nCap uncapped=$nRaw")
    // every vector still PROBES (capping only candidate visibility): with
    // k=5 each of the 500 vectors still gets its 5 neighbors
    val g = Similarity.knnGraph(vecs, "vec_id", "embedding", k = 5,
      nLists = 8, nProbe = nProbe, maxListSize = cap)
    assert(g.groupBy("id1").count().filter(col("count") =!= 5).count() == 0L,
      "every vector must still receive k neighbors under the cap")
    assert(g.count() == 2500L)
    // dominant-cluster members must keep resolving to dominant-cluster
    // neighbors (the subsample is within the same list)
    val cross = g.filter(col("id1") < 400 && col("id2") >= 400).count()
    assert(cross == 0L, s"$cross cross-cluster neighbors under the cap")
  }

  test("ivfPqTopKRefined: exact distances, full-probe/full-refine equals " +
      "brute force, shortlist ceiling refuses") {
    import graft.operators.Similarity
    val vecs = spark.range(300).select(col("id").as("vec_id"),
      expr("transform(sequence(0, 15), d -> CAST(pmod(id * (d + 5) + " +
        "d * 2, 89) AS DOUBLE) / 89.0)").as("embedding"))
    val idx = java.nio.file.Files.createTempDirectory("graft_refine")
      .resolve("idx").toString
    Similarity.writeIvfPqIndex(vecs, "vec_id", "embedding", idx,
      nLists = 4, m = 4, nCodes = 8)
    val q: Seq[Double] = vecs.filter(col("vec_id") === 42L)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val all: Map[Long, Array[Double]] = vecs
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def exact(id: Long): Double = {
      val v = all(id); var s = 0.0; var i = 0
      while (i < v.length) { val t = v(i) - q(i); s += t * t; i += 1 }
      s
    }
    // probe ALL lists with a corpus-sized shortlist: the rerank must
    // reproduce the true exact-distance top-k, regardless of ADC error
    val brute = all.keys.toSeq.map(id => (id, exact(id)))
      .sortBy { case (id, d) => (d, id) }.take(10)
    val refined = Similarity.ivfPqTopKRefined(spark, idx, "vec_id", vecs,
        "embedding", q, k = 10, nProbe = 4, refine = 30)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(refined.map(_._1) == brute.map(_._1), s"$refined vs $brute")
    refined.zip(brute).foreach { case ((_, d1), (_, d2)) =>
      assert(math.abs(d1 - d2) < 1e-12) }
    // modest refine: still exact METRICS for whatever ids it returns
    Similarity.ivfPqTopKRefined(spark, idx, "vec_id", vecs, "embedding",
        q, k = 5, nProbe = 2, refine = 3)
      .collect().foreach { r =>
        assert(math.abs(r.getDouble(1) - exact(r.getLong(0))) < 1e-12) }
    // the exact leg pushes the shortlist into the vector scan — no
    // corpus-wide exact pass
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfPqTopKRefined(spark, idx, "vec_id", vecs, "embedding",
        q, k = 1000, refine = 1000)
    }
    assert(e.getMessage.contains("65536"), e.getMessage)
  }

  test("ivfPqListStats: occupancy sums to nVecs and tracks appends") {
    import graft.operators.Similarity
    def mk(lo: Long, hi: Long) = spark.range(lo, hi)
      .select(col("id").as("vec_id"),
        expr("transform(sequence(0, 15), d -> CAST(pmod(id * (d + 3), 31) " +
          "AS DOUBLE))").as("embedding"))
    val idx = java.nio.file.Files.createTempDirectory("graft_lstats")
      .resolve("idx").toString
    Similarity.writeIvfPqIndex(mk(0L, 200L), "vec_id", "embedding", idx,
      nLists = 4, m = 4, nCodes = 8)
    val st = Similarity.ivfPqIndexStats(spark, idx)
    val occ = Similarity.ivfPqListStats(spark, idx).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(occ.values.sum == st.nVecs, s"$occ vs ${st.nVecs}")
    assert(occ.keySet.size <= st.nLists)
    Similarity.appendToIvfPqIndex(mk(200L, 260L), "vec_id", "embedding", idx)
    val occ2 = Similarity.ivfPqListStats(spark, idx).collect()
      .map(r => r.getLong(1)).sum
    assert(occ2 == st.nVecs + 60L, s"append must be visible: $occ2")
  }

  test("OPQ-rotated persisted IVF-PQ: probes equal an unrotated index " +
      "built on pre-rotated vectors; appends rotate on the way in; the " +
      "trained rotation's error cut survives persistence") {
    import graft.operators.Similarity
    import graft.functions.EmbeddingStats
    // cross-subspace-correlated data (the shape OPQ exists for)
    def mk(lo: Long, hi: Long) = spark.range(lo, hi)
      .select(col("id").as("vec_id"),
        expr("transform(sequence(0, 15), d -> " +
          "CAST(sin(id * 2.13) * 10.0 * sin(d * 1.7 + 0.5) " +
          "+ cos(id * 1.37) * 4.0 * cos(d * 2.9 + 1.1) " +
          "+ 0.05 * sin(id * 7 + d * 3) AS DOUBLE))").as("embedding"))
    val vecs = mk(0L, 200L)
    val m = 4
    val rot = EmbeddingStats.opqTrain(vecs, "embedding", m, nCodes = 8,
      iters = 4).rotation
    val opq = java.nio.file.Files.createTempDirectory("graft_opq")
      .resolve("idx").toString
    Similarity.writeIvfPqIndex(vecs, "vec_id", "embedding", opq,
      nLists = 4, m = m, nCodes = 8, opqRotationOpt = Some(rot))
    // reference: unrotated build over MANUALLY rotated vectors
    def rotate(df: org.apache.spark.sql.DataFrame) = df.select(
      col("vec_id"),
      EmbeddingStats.applyRotation(col("embedding"), rot).as("embedding"))
    val ref = java.nio.file.Files.createTempDirectory("graft_opqref")
      .resolve("idx").toString
    Similarity.writeIvfPqIndex(rotate(vecs), "vec_id", "embedding", ref,
      nLists = 4, m = m, nCodes = 8)
    val q: Seq[Double] = vecs.filter(col("vec_id") === 7L)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val qr: Seq[Double] = rot.toIndexedSeq.map { row =>
      row.toIndexedSeq.zip(q).foldLeft(0.0) { case (s, (a, b)) => s + a * b }
    }
    def got(path: String, qq: Seq[Double]) =
      Similarity.ivfPqTopKIndexed(spark, path, "vec_id", qq, k = 9,
        nProbe = 2).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got(opq, q) == got(ref, qr),
      "rotated probe must equal unrotated probe in pre-rotated space")
    // appends go through the stored rotation: parity survives a roll,
    // and drift telemetry (appendErrs) is computed in rotated space
    Similarity.appendToIvfPqIndex(mk(200L, 240L), "vec_id", "embedding", opq)
    Similarity.appendToIvfPqIndex(rotate(mk(200L, 240L)), "vec_id",
      "embedding", ref)
    assert(got(opq, q) == got(ref, qr),
      "append must encode through the stored rotation")
    val stOpq = Similarity.ivfPqIndexStats(spark, opq)
    val stRef = Similarity.ivfPqIndexStats(spark, ref)
    assert(stOpq.appendErrs.nonEmpty &&
      stOpq.appendErrs == stRef.appendErrs,
      "drift telemetry must live in rotated space (equal to the " +
        s"pre-rotated reference): ${stOpq.appendErrs} vs ${stRef.appendErrs}")
    // batched probe rotates each query the same way
    val queries = vecs.filter(col("vec_id").isin(7L, 55L))
      .select(col("vec_id").as("query_id"), col("embedding"))
    val batch = Similarity.ivfPqTopKIndexedBatch(spark, opq, "vec_id",
        queries, "query_id", "embedding", k = 9, nProbe = 2)
      .filter(col("query_id") === 7L)
      .select(col("vec_id"), col("adc"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(batch == got(opq, q),
      "batched probe must rotate queries like the single-query path")
    // the MEASURED payoff survives persistence: build-time baseErr of
    // the rotated index undercuts the raw index on this data
    val raw = java.nio.file.Files.createTempDirectory("graft_opqraw")
      .resolve("idx").toString
    Similarity.writeIvfPqIndex(vecs, "vec_id", "embedding", raw,
      nLists = 4, m = m, nCodes = 8)
    val stRaw = Similarity.ivfPqIndexStats(spark, raw)
    assert(stOpq.baseErr < stRaw.baseErr,
      s"persisted rotation must cut quantization error: " +
        s"opq ${stOpq.baseErr} vs raw ${stRaw.baseErr}")
  }

  test("writeIvfPqIndexFromOpq: trained codebooks beat hash donors under " +
      "the same rotation; probes and appends ride the standard machinery") {
    import graft.operators.Similarity
    import graft.functions.EmbeddingStats
    def mk(lo: Long, hi: Long) = spark.range(lo, hi)
      .select(col("id").as("vec_id"),
        expr("transform(sequence(0, 15), d -> " +
          "CAST(sin(id * 2.13) * 10.0 * sin(d * 1.7 + 0.5) " +
          "+ cos(id * 1.37) * 4.0 * cos(d * 2.9 + 1.1) " +
          "+ 0.05 * sin(id * 7 + d * 3) AS DOUBLE))").as("embedding"))
    val vecs = mk(0L, 200L)
    val model = EmbeddingStats.opqTrain(vecs, "embedding", 4, nCodes = 8,
      iters = 4)
    val full = java.nio.file.Files.createTempDirectory("graft_opqfull")
      .resolve("idx").toString
    Similarity.writeIvfPqIndexFromOpq(vecs, "vec_id", "embedding", full,
      model, nLists = 4)
    // same rotation, hash-selected donors: the trained codebooks must
    // reconstruct strictly better (k-means vs arbitrary data points)
    val hashed = java.nio.file.Files.createTempDirectory("graft_opqhash")
      .resolve("idx").toString
    Similarity.writeIvfPqIndex(vecs, "vec_id", "embedding", hashed,
      nLists = 4, m = 4, nCodes = 8,
      opqRotationOpt = Some(model.rotation))
    val stFull = Similarity.ivfPqIndexStats(spark, full)
    val stHash = Similarity.ivfPqIndexStats(spark, hashed)
    assert(stFull.baseErr < stHash.baseErr,
      s"trained codebooks must beat hash donors: ${stFull.baseErr} vs " +
        s"${stHash.baseErr}")
    // probe sanity + append through the stored rotation
    val q: Seq[Double] = vecs.filter(col("vec_id") === 7L)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val top = Similarity.ivfPqTopKIndexed(spark, full, "vec_id", q, k = 9,
      nProbe = 2).collect().map(_.getLong(0))
    assert(top.length == 9 && top.contains(7L),
      s"probe must surface the query's own vector: ${top.toSeq}")
    Similarity.appendToIvfPqIndex(mk(200L, 240L), "vec_id", "embedding", full)
    assert(Similarity.ivfPqIndexStats(spark, full).nVecs == 240L)
  }

  test("balanced persisted IVF-PQ: probes equal an unbalanced index built " +
      "on pre-permuted vectors; appends and batch probes respect the perm") {
    import graft.operators.Similarity
    // unbalanced spread: dims 0-3 carry ~100x the range of the rest — the
    // shape the deal exists for
    def mk(lo: Long, hi: Long) = spark.range(lo, hi)
      .select(col("id").as("vec_id"),
        expr("transform(sequence(0, 15), d -> CASE WHEN d < 4 THEN " +
          "CAST(pmod(id * (d + 7) + d, 97) AS DOUBLE) ELSE " +
          "CAST(pmod(id * (d + 3), 11) AS DOUBLE) / 11.0 END)")
          .as("embedding"))
    val vecs = mk(0L, 200L)
    val m = 4
    val bal = java.nio.file.Files.createTempDirectory("graft_bal")
      .resolve("idx").toString
    Similarity.writeIvfPqIndex(vecs, "vec_id", "embedding", bal,
      nLists = 4, m = m, nCodes = 8, balanced = true)
    // reference: unbalanced build over MANUALLY permuted vectors
    val perm = Similarity.pqBalancedPerm(vecs, "vec_id", "embedding", m)
    def permute(df: org.apache.spark.sql.DataFrame) = df.select(
      col("vec_id"), array(perm.map(i =>
        col("embedding").cast("array<double>").getItem(i)).toIndexedSeq: _*)
        .as("embedding"))
    val ref = java.nio.file.Files.createTempDirectory("graft_balref")
      .resolve("idx").toString
    Similarity.writeIvfPqIndex(permute(vecs), "vec_id", "embedding", ref,
      nLists = 4, m = m, nCodes = 8)
    val q: Seq[Double] = vecs.filter(col("vec_id") === 7L)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val qp: Seq[Double] = perm.toIndexedSeq.map(q(_))
    def got(path: String, qq: Seq[Double]) =
      Similarity.ivfPqTopKIndexed(spark, path, "vec_id", qq, k = 9,
        nProbe = 2).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got(bal, q) == got(ref, qp),
      "balanced probe must equal unbalanced probe in pre-permuted space")
    // appends go through the stored perm: parity must survive a roll
    Similarity.appendToIvfPqIndex(mk(200L, 240L), "vec_id", "embedding", bal)
    Similarity.appendToIvfPqIndex(permute(mk(200L, 240L)), "vec_id",
      "embedding", ref)
    assert(got(bal, q) == got(ref, qp),
      "balanced append must encode through the stored perm")
    // batched probe permutes each query the same way
    val queries = vecs.filter(col("vec_id").isin(7L, 55L))
      .select(col("vec_id").as("query_id"), col("embedding"))
    val batch = Similarity.ivfPqTopKIndexedBatch(spark, bal, "vec_id",
        queries, "query_id", "embedding", k = 9, nProbe = 2)
      .filter(col("query_id") === 7L)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
      .sortBy(x => (x._2, x._1))
    assert(batch == got(bal, q).sortBy(x => (x._2, x._1)),
      "batched probe must match the single probe on a balanced index")
    // explicit codebooks + balanced refuse (wrong-space hazard)
    val e = intercept[IllegalArgumentException] {
      Similarity.writeIvfPqIndex(vecs, "vec_id", "embedding", bal,
        nLists = 4, m = m, nCodes = 8, balanced = true,
        centroidsOpt = Some(Array((0L, Array.fill(16)(0.0)))))
    }
    assert(e.getMessage.contains("permuted-space"), e.getMessage)
  }

  test("IVF-PQ drift telemetry: distribution-shifted appends raise the " +
      "recorded ADC error; maintenance preserves the history") {
    import graft.operators.Similarity
    for (residual <- Seq(false, true)) {
      val mk = (lo: Long, hi: Long, shift: Double) =>
        spark.range(lo, hi).select(col("id").as("vec_id"),
          expr(s"transform(sequence(0, 15), d -> $shift + " +
            "CAST(pmod(id * (d + 7) + d, 13) AS DOUBLE) / 13.0)")
            .as("embedding"))
      val idx = java.nio.file.Files.createTempDirectory("graft_drift")
        .resolve("idx").toString
      Similarity.writeIvfPqIndex(mk(0L, 200L, 0.0), "vec_id", "embedding",
        idx, nLists = 4, m = 4, nCodes = 8, residual = residual)
      val st0 = Similarity.ivfPqIndexStats(spark, idx)
      assert(!st0.baseErr.isNaN && st0.appendErrs.isEmpty &&
        st0.driftRatio.isEmpty, s"residual=$residual: $st0")
      // in-distribution append: recorded error ~ the baseline
      Similarity.appendToIvfPqIndex(mk(200L, 260L, 0.0), "vec_id",
        "embedding", idx)
      // far-out-of-distribution append: error must spike
      Similarity.appendToIvfPqIndex(mk(300L, 360L, 1000.0), "vec_id",
        "embedding", idx)
      val st2 = Similarity.ivfPqIndexStats(spark, idx)
      assert(st2.appendErrs.size == 2, s"residual=$residual: $st2")
      assert(st2.appendErrs.head < st2.baseErr * 4,
        s"residual=$residual: in-dist append err ${st2.appendErrs.head} " +
          s"vs base ${st2.baseErr}")
      assert(st2.appendErrs.last > st2.baseErr * 10 &&
        st2.driftRatio.exists(_ > 10),
        s"residual=$residual: shifted append err ${st2.appendErrs.last} " +
          s"vs base ${st2.baseErr} must flag drift")
      // compaction reasserts the meta without losing the history
      Similarity.compactIvfPqIndex(spark, idx)
      val st3 = Similarity.ivfPqIndexStats(spark, idx)
      assert(st3.baseErr == st2.baseErr && st3.appendErrs == st2.appendErrs,
        s"residual=$residual: maintenance must preserve drift telemetry")
    }
  }

  test("maintenanceDue: hot list trips skew, shifted appends trip drift, " +
      "fresh balanced index trips neither") {
    import graft.operators.Similarity
    val mk = (lo: Long, hi: Long, shift: Double) =>
      spark.range(lo, hi).select(col("id").as("vec_id"),
        expr(s"transform(sequence(0, 15), d -> $shift + " +
          "CAST(pmod(id * (d + 7) + d, 13) AS DOUBLE) / 13.0)")
          .as("embedding"))
    // fresh well-spread index: nothing due
    val idx = java.nio.file.Files.createTempDirectory("graft_maint")
      .resolve("idx").toString
    Similarity.writeIvfPqIndex(mk(0L, 200L, 0.0), "vec_id", "embedding",
      idx, nLists = 4, m = 4, nCodes = 8)
    val fresh = Similarity.maintenanceDue(spark, idx)
    assert(!fresh.skewTrigger && !fresh.driftTrigger &&
      fresh.action == "none" && fresh.suggestedMaxListSize.isEmpty,
      s"fresh index must trip nothing: $fresh")
    // far-out-of-distribution append: drift verdict = rebuild-retrain
    Similarity.appendToIvfPqIndex(mk(300L, 360L, 1000.0), "vec_id",
      "embedding", idx)
    val drifted = Similarity.maintenanceDue(spark, idx)
    assert(drifted.driftTrigger && drifted.action == "rebuild-retrain",
      s"shifted append must trip drift: $drifted")
    // dominant-cluster corpus: one list holds ~all vectors → skew verdict
    // (constant vectors for the hot cluster, spread for the rest)
    val hot = spark.range(0, 450).select(col("id").as("vec_id"),
        expr("transform(sequence(0, 15), d -> 0.5)").as("embedding"))
      .unionByName(mk(450L, 500L, 0.0))
    val idx2 = java.nio.file.Files.createTempDirectory("graft_maint2")
      .resolve("idx").toString
    Similarity.writeIvfPqIndex(hot, "vec_id", "embedding", idx2,
      nLists = 8, m = 4, nCodes = 8)
    val skewed = Similarity.maintenanceDue(spark, idx2, skewThreshold = 4.0)
    assert(skewed.skewTrigger && !skewed.driftTrigger &&
      skewed.action == "rebalance-lists" &&
      skewed.suggestedMaxListSize.exists(s => s >= 1 && s < skewed.maxList),
      s"dominant cluster must trip skew with a usable cap: $skewed")
  }

  test("semDedupByCentroid: derives the published centroid-distance keep " +
      "policy; matches keepByCol given the same score") {
    import graft.operators.Similarity
    // two tight, well-separated clusters + one singleton; members of each
    // cluster sit at DIFFERENT distances from the cluster mean so the
    // farthest-member choice is unambiguous
    def v(base: Double, off: Double) =
      (0 until 8).map(d => base + (if (d == 0) off else 0.0))
    val rows = Seq(
      (1L, v(1.0, 0.00)), (2L, v(1.0, 0.02)), (3L, v(1.0, 0.08)),
      (11L, v(-1.0, 0.00)), (12L, v(-1.0, 0.03)),
      (99L, (0 until 8).map(d => if (d % 2 == 0) 5.0 else -5.0)))
    val vecs = rows.toDF("vec_id", "embedding")
    val got = Similarity.semDedupByCentroid(vecs, "vec_id", "embedding",
        k = 3, minCos = 0.999, nLists = 2, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // expected: per cluster, the member with the LOWEST cos to the
    // cluster mean (computed here independently, driver-side)
    val clusters = Similarity.clusterEmbeddings(vecs, "vec_id", "embedding",
        k = 3, minCos = 0.999, nLists = 2, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._2).view.mapValues(_.map(_._1).toSeq).toMap
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val byId = rows.toMap
    val expect = clusters.map { case (c, ids) =>
      val mean = (0 until 8).map(d => ids.map(i => byId(i)(d)).sum / ids.size)
      val keep = ids.map(i => (cos(byId(i), mean), i)).minBy(identity)._2
      (keep, c)
    }
    assert(got == expect, s"got $got expect $expect (clusters $clusters)")
    assert(clusters.sizeIs >= 3 && clusters.exists(_._2.size == 3),
      s"fixture must form the intended clusters: $clusters")
    // keepByCol equivalence: precompute score = -cos(centroid) and the
    // generic keep-best path must pick the same survivors
    val scoreRows = clusters.toSeq.flatMap { case (_, ids) =>
      val mean = (0 until 8).map(d => ids.map(i => byId(i)(d)).sum / ids.size)
      ids.map(i => (i, -cos(byId(i), mean)))
    }
    val withScore = vecs.join(scoreRows.toDF("vec_id", "score"), Seq("vec_id"))
    val viaKeepBy = Similarity.semDedup(withScore, "vec_id", "embedding",
        k = 3, minCos = 0.999, nLists = 2, nProbe = 2,
        keepByCol = Some("score"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(viaKeepBy == got, s"keepByCol $viaKeepBy != derived $got")
  }

  test("leakageSafeSplit: near-dup clusters never straddle the split; " +
      "deterministic across reruns") {
    import graft.operators.Similarity
    // two tight clusters + singletons (the semDedupByCentroid fixture
    // shape): every cluster's members must share one split label
    def v(base: Double, off: Double) =
      (0 until 8).map(d => base + (if (d == 0) off else 0.0))
    val vecs = (Seq((1L, v(1.0, 0.00)), (2L, v(1.0, 0.02)), (3L, v(1.0, 0.08)),
      (11L, v(-1.0, 0.00)), (12L, v(-1.0, 0.03))) ++
      (100L until 120L).map(i =>
        (i, (0 until 8).map(d => math.sin(i * 7.3 + d * 1.7) * 5))))
      .toDF("vec_id", "embedding")
    val got = Similarity.leakageSafeSplit(vecs, "vec_id", "embedding",
        k = 3, minCos = 0.999, valPermille = 300, nLists = 4, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val byCluster = got.groupBy(_._2).view.mapValues(_.map(_._3).toSet)
    assert(byCluster.values.forall(_.size == 1),
      s"a cluster straddles the split: $byCluster")
    assert(got.map(_._3).toSet == Set("train", "val") || got.length < 8,
      "a 30% permille cut over many clusters should produce both labels")
    val again = Similarity.leakageSafeSplit(vecs, "vec_id", "embedding",
        k = 3, minCos = 0.999, valPermille = 300, nLists = 4, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(got.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq,
      "seedless split must reproduce exactly")
  }

  test("leakageSafeSplit label instability under growth; stable variant " +
      "pins unchanged clusters and resolves merges to the min prior label") {
    import graft.operators.Similarity
    // 8-dim vectors: cluster A along e0, cluster B along e1 (cos ≈ 0
    // across at minCos 0.7, ≈ 1 within). Knuth-hash sides of the labels
    // involved: h(5)%1000=917, h(11)%1000=595, h(2)%1000=226.
    def unit(axis: Int, off: Double) =
      (0 until 8).map(d => (if (d == axis) 1.0 else 0.0) +
        (if (d == (axis + 1) % 8) off else 0.0))
    val run1 = Seq((5L, unit(0, 0.0)), (6L, unit(0, 0.02)),
      (11L, unit(1, 0.0)), (12L, unit(1, 0.02)))
    def split(rows: Seq[(Long, Seq[Double])], permille: Int) =
      Similarity.leakageSafeSplit(rows.toDF("vec_id", "embedding"),
          "vec_id", "embedding", k = 4, minCos = 0.7,
          valPermille = permille, nLists = 2, nProbe = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    def stable(rows: Seq[(Long, Seq[Double])], permille: Int,
        prior: Seq[(Long, Long)]) =
      Similarity.leakageSafeSplitStable(rows.toDF("vec_id", "embedding"),
          "vec_id", "embedding", k = 4, minCos = 0.7,
          valPermille = permille, prior.toDF("vec_id", "label"),
          nLists = 2, nProbe = 2)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    // run 1 at permille=300: A (label 5, 917) and B (label 11, 595) both
    // land train
    val first = split(run1, 300)
    assert(first.forall(_._3 == "train"), s"run1: ${first.toSeq}")
    assert(first.map(t => t._1 -> t._2).toMap ==
      Map(5L -> 5L, 6L -> 5L, 11L -> 11L, 12L -> 11L), s"${first.toSeq}")
    // growth WITHOUT merge: doc 2 joins B; the plain variant relabels the
    // component 11 → 2 and h(2)%1000=226 < 300 flips B train→val — the
    // instability the scaladoc documents
    val run2 = run1 :+ (2L, unit(1, 0.01))
    val plain2 = split(run2, 300)
    val bDocs = Set(2L, 11L, 12L)
    assert(plain2.filter(t => bDocs(t._1)).forall(t => t._2 == 2L && t._3 == "val"),
      s"plain variant must exhibit the documented flip: ${plain2.toSeq}")
    // stable variant fed run 1's (id, label): B adopts prior label 11 and
    // STAYS train; A untouched
    val prior1 = first.map(t => t._1 -> t._2).toSeq
    val stable2 = stable(run2, 300, prior1)
    assert(stable2.filter(t => bDocs(t._1))
        .forall(t => t._3 == 11L && t._4 == "train"),
      s"stable variant must pin B to its prior side: ${stable2.toSeq}")
    assert(stable2.filter(t => Set(5L, 6L)(t._1))
        .forall(t => t._3 == 5L && t._4 == "train"), s"${stable2.toSeq}")
    // genuine MERGE at permille=700 (A: 917 train, B: 595 val): a bridge
    // doc 20 ~ (e0+e1)/√2 has cos ≈ 0.707 ≥ 0.7 to both clusters; the
    // merged component must land on ONE side (leakage guarantee) and the
    // stable variant picks the min prior label's side, deterministically
    val firstSides = split(run1, 700)
    assert(firstSides.filter(t => Set(5L, 6L)(t._1)).forall(_._3 == "train")
      && firstSides.filter(t => Set(11L, 12L)(t._1)).forall(_._3 == "val"),
      s"fixture needs A/B on opposite sides at 700: ${firstSides.toSeq}")
    val bridge = (0 until 8).map(d => if (d <= 1) 1.0 else 0.0)
    val merged = stable(run1 :+ (20L, bridge), 700,
      firstSides.map(t => t._1 -> t._2).toSeq)
    assert(merged.map(_._3).distinct.toSeq == Seq(5L),
      s"merged component must adopt min prior label 5: ${merged.toSeq}")
    assert(merged.forall(_._4 == "train"),
      s"merged cluster must sit entirely on label 5's side: ${merged.toSeq}")
  }

  test("maintenanceDue stays sane right after a takedown empties lists") {
    import graft.operators.Similarity
    // 4 well-separated blobs → 4 meaningfully occupied lists
    val mk = (lo: Long, hi: Long, axis: Int) =>
      spark.range(lo, hi).select(col("id").as("vec_id"),
        expr(s"transform(sequence(0, 15), d -> CAST(CASE WHEN d = $axis " +
          "THEN 100.0 ELSE pmod(id * (d + 3), 7) END AS DOUBLE))")
          .as("embedding"))
    val corpus = mk(0L, 50L, 0).unionByName(mk(50L, 100L, 4))
      .unionByName(mk(100L, 150L, 8)).unionByName(mk(150L, 200L, 12))
    val idx = java.nio.file.Files.createTempDirectory("graft_maint_rm")
      .resolve("idx").toString
    Similarity.writeIvfPqIndex(corpus, "vec_id", "embedding", idx,
      nLists = 4, m = 4, nCodes = 8)
    val before = Similarity.maintenanceDue(spark, idx, skewThreshold = 3.0)
    assert(!before.skewTrigger && before.action == "none",
      s"4 even blobs must not trip skew: $before")
    // takedown: drop three of the four blobs — their lists go (near-)empty.
    // Emptied lists COUNT as skew by design: avg is over declared lists.
    Similarity.removeFromIvfPqIndex(spark, idx,
      spark.range(50L, 200L).select(col("id").as("vec_id")), "vec_id")
    val after = Similarity.maintenanceDue(spark, idx, skewThreshold = 3.0)
    // occupancy must be exactly the 50 survivors (avg over DECLARED lists),
    // however k-means spread them; the max list holds most of one blob
    val occ = Similarity.ivfPqListStats(spark, idx)
      .agg(sum(col("n"))).head().getLong(0)
    assert(occ == 50L && after.avgList == 50.0 / 4,
      s"post-takedown occupancy must be exact: occ=$occ $after")
    assert(after.maxList > 50 / 4 && after.maxList <= 50L,
      s"max list must reflect the surviving blob: $after")
    assert(after.skewTrigger && after.action == "rebalance-lists",
      s"survivors concentrated in one declared-4 list must read as skew: $after")
    assert(after.suggestedMaxListSize.exists(s => s >= 1 && s <= after.maxList),
      s"suggested interim cap must be usable: $after")
    assert(!after.driftTrigger,
      s"takedown must not fabricate codebook drift: $after")
  }

  test("kCenterSample: farthest-first covers planted clusters before " +
      "densifying; radii non-increasing; deterministic") {
    import graft.operators.Similarity
    // 3 tight, well-separated clusters (axis blobs at distance ~100)
    def blob(axis: Int, lo: Long, hi: Long) =
      (lo until hi).map(i => (i, (0 until 8).map(d =>
        (if (d == axis) 100.0 else 0.0) + 0.01 * (i % 5))))
    val rows = blob(0, 0L, 10L) ++ blob(3, 10L, 20L) ++ blob(6, 20L, 30L)
    val vecs = rows.toDF("vec_id", "embedding")
    // k=3 picks exactly one member of each planted cluster
    val k3 = Similarity.kCenterSample(vecs, "vec_id", "embedding", 3)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(k3.map(_._2 / 10L).toSet == Set(0L, 1L, 2L),
      s"k=3 must hit all three clusters: ${k3.toSeq}")
    // k=8: distinct picks, radii non-increasing after the seed, and the
    // 4th radius collapses from cross-cluster (~100+) to within-cluster
    // (< 1) scale — the k-center cost curve's elbow
    val k8 = Similarity.kCenterSample(vecs, "vec_id", "embedding", 8)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
    assert(k8.map(_._2).distinct.length == 8, s"${k8.toSeq}")
    val radii = k8.drop(1).map(_._3)
    assert(radii.zip(radii.tail).forall { case (a, b) => b <= a + 1e-12 },
      s"radii must be non-increasing: ${radii.toSeq}")
    assert(radii(0) > 100 && radii(1) > 100 && radii(2) < 1.0,
      s"two cross-cluster jumps then within-cluster: ${radii.toSeq}")
    // deterministic rerun; seed pin respected; k > corpus stops early
    val again = Similarity.kCenterSample(vecs, "vec_id", "embedding", 8)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
    assert(k8.toSeq == again.toSeq, "seedless farthest-first must reproduce")
    val pinned = Similarity.kCenterSample(vecs, "vec_id", "embedding", 2,
      seedId = Some(25L)).collect().map(_.getLong(1))
    assert(pinned.head == 25L, s"${pinned.toSeq}")
    val tiny = Similarity.kCenterSample(
      vecs.filter(col("vec_id") < 3), "vec_id", "embedding", 8)
    assert(tiny.count() == 3, "k beyond corpus size must stop early")
  }

  test("kCenterPreShard: exact-size deterministic reservoir; the seed " +
      "is shard-invariant; bounds enforced") {
    import graft.operators.Similarity
    val vecs = (0L until 500L).map(i => (i, (0 until 4).map(d =>
      (i % 37).toDouble + d))).toDF("vec_id", "embedding")
    val shard = Similarity.kCenterPreShard(vecs, "vec_id", 50)
    assert(shard.count() == 50)
    val ids = shard.collect().map(_.getLong(0)).toSet
    val again = Similarity.kCenterPreShard(vecs, "vec_id", 50)
      .collect().map(_.getLong(0)).toSet
    assert(ids == again, "pre-shard must be a pure function of the id set")
    // n >= corpus keeps everything
    assert(Similarity.kCenterPreShard(vecs, "vec_id", 1000).count() == 500)
    // the pre-shard hash IS the seed-selection hash, so sampling the
    // shard starts from the same seed as sampling the corpus
    val seedAll = Similarity.kCenterSample(vecs, "vec_id", "embedding", 1)
      .collect()(0).getLong(1)
    val seedShard = Similarity.kCenterSample(shard, "vec_id", "embedding", 1)
      .collect()(0).getLong(1)
    assert(seedAll == seedShard,
      s"shard seed $seedShard must equal corpus seed $seedAll")
    intercept[IllegalArgumentException] {
      Similarity.kCenterPreShard(vecs, "vec_id", 0)
    }
  }

  test("recallAtK: counts approx∩exact per query; dropped queries score 0") {
    import graft.operators.Similarity
    val exact = Seq((1L, 10L), (1L, 11L), (1L, 12L), (1L, 13L),
      (2L, 20L), (2L, 21L), (2L, 22L), (2L, 23L),
      (3L, 30L), (3L, 31L), (3L, 32L), (3L, 33L))
      .toDF("query_id", "vec_id")
    val approx = Seq((1L, 10L), (1L, 11L), (1L, 12L), (1L, 13L), // 4/4
      (2L, 20L), (2L, 99L), (2L, 22L), (2L, 98L))                // 2/4
      .toDF("query_id", "vec_id")                                // q3 absent
    val got = Similarity.recallAtK(approx, exact, "query_id", "vec_id", 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(got == Map(1L -> 1.0, 2L -> 0.5, 3L -> 0.0), s"$got")
  }

  test("pqSubspaceCodebooks: learned codebooks cut quantization error on clustered data") {
    import graft.operators.Similarity
    // 3 tight clusters in 16-dim space whose centers differ PER SUBSPACE —
    // whole-vector donors can at best nail 3 of the 4^2 per-subspace
    // combinations, per-subspace k-means recovers each subspace's centers
    val vecs = spark.range(90).select(col("id").as("vec_id"),
      expr("transform(sequence(0, 15), d -> " +
        "CAST((CASE WHEN d < 8 THEN id % 3 ELSE (id * 7) % 3 END) * 10 AS DOUBLE)" +
        " + CAST(pmod(id * (d + 3), 17) AS DOUBLE) / 170.0)").as("embedding"))
    val learned = Similarity.pqSubspaceCodebooks(vecs, "vec_id", "embedding",
      m = 2, nCodes = 3, iters = 5)
    assert(learned.nonEmpty && learned.head._2.length == 16)
    val drawn = Similarity.pqDonors(vecs, "vec_id", "embedding", nCodes = 3)
    def mse(donors: Array[(Long, Array[Double])]): Double = {
      val codeById = donors.toMap
      val rows = Similarity.pqEncode(vecs, "vec_id", "embedding", donors, m = 2)
        .join(vecs, "vec_id")
        .select(col("pq_codes"), col("embedding").cast("array<double>"))
        .collect()
      rows.map { r =>
        val cs = r.getSeq[Long](0); val v = r.getSeq[Double](1)
        (0 until 2).map { j =>
          val dv = codeById(cs(j))
          (0 until 8).map { i =>
            val t = v(j * 8 + i) - dv(j * 8 + i); t * t
          }.sum
        }.sum
      }.sum / rows.length
    }
    val (eL, eD) = (mse(learned), mse(drawn))
    assert(eL < eD * 0.5,
      s"learned codebooks must at least halve quantization error: $eL vs $eD")
    // and the learned donors drop straight into the search path
    val q = vecs.filter(col("vec_id") === 5)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val hits = Similarity.pqSearchCodes(
      Similarity.pqEncode(vecs, "vec_id", "embedding", learned, m = 2),
      "vec_id", learned, q, k = 5, m = 2).collect()
    assert(hits.length == 5)
  }

  test("writeSignatureIndex refuses an empty corpus") {
    val idx = java.nio.file.Files.createTempDirectory("graft_sigidx6")
      .resolve("idx").toString
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.writeSignatureIndex(empty, "doc_id", "text", idx,
        shingleN = 2, k = 16, bands = 4, nBuckets = 8)
    }
    assert(e.getMessage.contains("empty corpus"), e.getMessage)
  }

  test("connectedComponentsStar ≡ min-label propagation on random/deep graphs") {
    val rnd = new scala.util.Random(42)
    def labelsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // random graphs: several densities and seeds
    for (trial <- 0 until 4) {
      val n = 40 + trial * 20
      val pairs = (0 until n * 2).map { _ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)
      }.toDF("a", "b")
      val prop = labelsOf(Dedup.connectedComponents(pairs, "a", "b", maxIters = 20))
      val star = labelsOf(Dedup.connectedComponentsStar(pairs, "a", "b"))
      assert(star == prop, s"trial $trial: star != propagation")
    }
    // deep chain — the case the star variant exists for
    val chain = (0L until 199L).map(i => (i, i + 1)).toDF("a", "b")
    val starChain = labelsOf(Dedup.connectedComponentsStar(chain, "a", "b"))
    assert(starChain.size == 200 && starChain.values.forall(_ == 0L))
    // star + isolated self-loop node
    val mix = (Seq((5L, 9L), (9L, 7L), (3L, 3L))).toDF("a", "b")
    val got = labelsOf(Dedup.connectedComponentsStar(mix, "a", "b"))
    assert(got == Map(5L -> 5L, 9L -> 5L, 7L -> 5L, 3L -> 3L), s"got $got")
    // the deepGraph hint produces the same survivors through the pipeline
    val corpus = docs ++ Seq(
      (6L, "the quick brown fox jumps over the lazy dog near the river bank today extra"))
    val viaStar = Dedup.dedupCorpusTransitive(corpus.toDF("doc_id", "text"),
      "doc_id", "text", threshold = 0.5, shingleN = 2, k = 16, bands = 8,
      deepGraph = true).select("doc_id").as[Long].collect().toSet
    val viaProp = Dedup.dedupCorpusTransitive(corpus.toDF("doc_id", "text"),
      "doc_id", "text", threshold = 0.5, shingleN = 2, k = 16, bands = 8)
      .select("doc_id").as[Long].collect().toSet
    assert(viaStar == viaProp, s"$viaStar != $viaProp")
  }

  test("dedupIncrementalIndexed enforces the monotone contract from meta") {
    val (existing, _) = indexFixture
    val idx = java.nio.file.Files.createTempDirectory("graft_sigidx4")
      .resolve("idx").toString
    Dedup.writeSignatureIndex(existing, "doc_id", "text", idx,
      shingleN = 2, k = 16, bands = 4, nBuckets = 8)
    val bad = Seq((2L, "x y z")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.dedupIncrementalIndexed(bad, idx, "doc_id", "text")
    }
    assert(e.getMessage.contains("monotone"), e.getMessage)
    val badType = Seq(("9", "x y z")).toDF("doc_id", "text")
    val e2 = intercept[IllegalArgumentException] {
      Dedup.dedupIncrementalIndexed(badType, idx, "doc_id", "text")
    }
    assert(e2.getMessage.contains("numeric id column"), e2.getMessage)
  }

  private def metaNDocs(idx: String): Long = {
    val raw = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(idx, "_dedup_index_meta.json")), "UTF-8")
    "\"nDocs\":(-?[0-9]+)".r.findFirstMatchIn(raw).get.group(1).toLong
  }

  test("removeFromSignatureIndex decrements nDocs by docs actually present") {
    val (existing, _) = indexFixture // docs 1..4
    val idx = java.nio.file.Files.createTempDirectory("graft_sigidx9")
      .resolve("idx").toString
    Dedup.writeSignatureIndex(existing, "doc_id", "text", idx,
      shingleN = 2, k = 16, bands = 4, nBuckets = 8)
    assert(metaNDocs(idx) == 4L)
    // takedown list: one present id, one never-indexed, one duplicate —
    // the decrement must be 1 (present), not 3 (requested)
    Dedup.removeFromSignatureIndex(spark, idx,
      Seq(1L, 99L, 1L).toDF("doc_id"), "doc_id")
    assert(metaNDocs(idx) == 3L, s"nDocs after first remove: ${metaNDocs(idx)}")
    // double-remove of the same (now absent) id: nDocs must not move
    Dedup.removeFromSignatureIndex(spark, idx,
      Seq(1L).toDF("doc_id"), "doc_id")
    assert(metaNDocs(idx) == 3L, s"nDocs after double remove: ${metaNDocs(idx)}")
    // and the monotone-id guard stays ARMED after removals: a stale-id
    // probe must refuse, not silently pass via a drifted nDocs==0 bypass
    val e = intercept[IllegalArgumentException] {
      Dedup.dedupIncrementalIndexed(Seq((2L, "x y z")).toDF("doc_id", "text"),
        idx, "doc_id", "text")
    }
    assert(e.getMessage.contains("monotone"), e.getMessage)
  }

  test("pending-append marker: index refuses until rebuilt, rebuild clears it") {
    val (existing, incoming) = indexFixture
    val idx = java.nio.file.Files.createTempDirectory("graft_sigidx10")
      .resolve("idx").toString
    Dedup.writeSignatureIndex(existing, "doc_id", "text", idx,
      shingleN = 2, k = 16, bands = 4, nBuckets = 8)
    // a completed append leaves NO marker behind
    val surv = Dedup.dedupIncrementalIndexed(incoming, idx, "doc_id", "text",
      threshold = 0.6)
    Dedup.appendToSignatureIndex(surv, "doc_id", "text", idx)
    val marker = java.nio.file.Paths.get(idx, "_pending_append.json")
    assert(!java.nio.file.Files.exists(marker), "append must clear its marker")
    // simulate an append that died between its relation writes and its
    // meta write: the marker is present, so every entry point refuses
    java.nio.file.Files.write(marker,
      """{"minId":100,"maxId":101,"n":2}""".getBytes("UTF-8"))
    for (op <- Seq[() => Any](
        () => Dedup.dedupIncrementalIndexed(
          Seq((200L, "zz")).toDF("doc_id", "text"), idx, "doc_id", "text"),
        () => Dedup.appendToSignatureIndex(
          Seq((200L, "zz")).toDF("doc_id", "text"), "doc_id", "text", idx),
        () => Dedup.compactSignatureIndex(spark, idx),
        () => Dedup.removeFromSignatureIndex(spark, idx,
          Seq(1L).toDF("doc_id"), "doc_id"))) {
      val e = intercept[IllegalStateException](op())
      assert(e.getMessage.contains("_pending_append"), e.getMessage)
    }
    // rebuild is the documented recovery — it clears the marker and the
    // index probes again
    Dedup.writeSignatureIndex(existing, "doc_id", "text", idx,
      shingleN = 2, k = 16, bands = 4, nBuckets = 8)
    assert(!java.nio.file.Files.exists(marker), "rebuild must clear the marker")
    assert(Dedup.dedupIncrementalIndexed(incoming, idx, "doc_id", "text",
      threshold = 0.6).select("doc_id").as[Long].collect().toSet == Set(12L, 15L))
  }

  test("replay fingerprint: a range-colliding non-replay batch refuses") {
    // Both rolling indexes key their replay no-op on the last committed
    // (minId, maxId, n) PLUS an id fingerprint (xor of id hashes): a
    // batch with the same range triple but a DIFFERENT id set — possible
    // whenever n < span — must refuse loudly, never silently skip.
    val (existing, _) = indexFixture
    val idx = java.nio.file.Files.createTempDirectory("graft_sigfp")
      .resolve("idx").toString
    Dedup.writeSignatureIndex(existing, "doc_id", "text", idx,
      shingleN = 2, k = 16, bands = 4, nBuckets = 8)
    val b1 = Seq((10L, "first fresh appended document body"),
      (11L, "second fresh appended document body"),
      (15L, "third fresh appended document body"))
      .toDF("doc_id", "text")
    Dedup.appendToSignatureIndex(b1, "doc_id", "text", idx)
    val before = spark.read.parquet(s"$idx/docs").count()
    // exact replay (same ids): idempotent no-op
    Dedup.appendToSignatureIndex(b1, "doc_id", "text", idx)
    assert(spark.read.parquet(s"$idx/docs").count() == before)
    // same (min=10, max=15, n=3), different middle id: NOT a replay
    val b2 = Seq((10L, "first fresh appended document body"),
      (13L, "entirely different middle document body"),
      (15L, "third fresh appended document body"))
      .toDF("doc_id", "text")
    val e = intercept[IllegalStateException] {
      Dedup.appendToSignatureIndex(b2, "doc_id", "text", idx)
    }
    assert(e.getMessage.contains("fingerprint"), e.getMessage)
    assert(spark.read.parquet(s"$idx/docs").count() == before,
      "a refused range-collision must leave the index untouched")

    // IVF-PQ index: same contract
    val vecs = spark.range(40).select(col("id").as("vec_id"),
      expr("transform(sequence(0, 15), d -> " +
        "CAST(pmod(id * (d + 7) + d * 5, 53) AS DOUBLE) / 53.0)").as("embedding"))
    val vidx = java.nio.file.Files.createTempDirectory("graft_pqfp")
      .resolve("idx").toString
    Similarity.writeIvfPqIndex(vecs, "vec_id", "embedding", vidx,
      nLists = 4, m = 4, nCodes = 4)
    def vb(ids: Long*) = spark.range(60).filter(col("id").isin(ids: _*))
      .select(col("id").as("vec_id"),
        expr("transform(sequence(0, 15), d -> " +
          "CAST(pmod(id * (d + 7) + d * 5, 53) AS DOUBLE) / 53.0)")
          .as("embedding"))
    Similarity.appendToIvfPqIndex(vb(50L, 51L, 55L), "vec_id", "embedding", vidx)
    val vBefore = spark.read.parquet(s"$vidx/codes").count()
    Similarity.appendToIvfPqIndex(vb(50L, 51L, 55L), "vec_id", "embedding", vidx)
    assert(spark.read.parquet(s"$vidx/codes").count() == vBefore)
    val ve = intercept[IllegalStateException] {
      Similarity.appendToIvfPqIndex(vb(50L, 52L, 55L), "vec_id", "embedding", vidx)
    }
    assert(ve.getMessage.contains("fingerprint"), ve.getMessage)
    assert(spark.read.parquet(s"$vidx/codes").count() == vBefore)
  }
}
