package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.TextFns
import graft.operators.Curation

/** The load-bearing plan shapes of the curation operators: which side
  * broadcasts, which operators stay exchange-free, how the wide window
  * partitions, and that the `*Tokenized` scorers read a persisted
  * tokenization instead of the corpus. The corpus is a small parquet
  * file, so a live re-scan shows up as a `LogicalRelation`. Automatic
  * broadcasting is off while planning, so every broadcast asserted here
  * comes from the operator's own hint, as it must at corpus scale.
  */
class CurationPlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val docs: DataFrame = {
    val path = java.nio.file.Files.createTempDirectory("graft_curplan")
      .resolve("docs").toString
    spark.range(400).select(col("id").as("doc_id"),
        concat_ws(" ", transform(sequence(lit(0), pmod(col("id"), lit(23)) + 2),
          d => concat(lit("w"), pmod(col("id") * (d + 3), lit(41)).cast("string"))))
          .as("text"),
        element_at(array(lit("en"), lit("de"), lit("es"), lit("fr"), lit("zh")),
          (pmod(col("id"), lit(5)) + 1).cast("int")).as("lang"))
      .write.parquet(path)
    spark.read.parquet(path)
  }

  private def executed(df: => DataFrame): String = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try df.queryExecution.executedPlan.toString
    finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("decontaminate broadcasts the benchmark grams") {
    val bench = docs.filter(col("doc_id") % 97 === 0)
      .filter(TextFns.tokenCount(col("text")) >= 3)
    val plan = executed(
      Curation.decontaminate(docs, "doc_id", "text", bench, "text", n = 3))
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastExchange"), plan)
  }

  test("stratifiedHashSample and chunkWindows do not shuffle the corpus") {
    val fr = Seq(("en", 0.5), ("de", 0.25), ("es", 0.125), ("fr", 0.75),
      ("zh", 0.0625)).toDF("lang", "fraction")
    // shuffles render as "Exchange hashpartitioning(...)"; the broadcast
    // of the fractions table is the only exchange allowed
    val sample = executed(
      Curation.stratifiedHashSample(docs, "doc_id", "lang", fr))
    assert(!sample.contains("Exchange hashpartitioning"), sample)
    val chunks = executed(
      Curation.chunkWindows(docs, "doc_id", "text", 64, 48))
    assert(!chunks.contains("Exchange hashpartitioning"), chunks)
  }

  test("tokenBudgetMix's wide window partitions by (source, __shard)") {
    val mixDocs = docs.select(col("doc_id"), col("lang").as("source"),
      TextFns.tokenCount(col("text")).cast("long").as("toks"))
    val budgets = Seq(("en", 500L), ("de", 250L), ("es", 125L), ("fr", 750L),
      ("zh", 62L)).toDF("source", "budget")
    val plan = executed(
      Curation.tokenBudgetMix(mixDocs, "doc_id", "toks", "source", budgets))
    // a per-source-only window would serialize each source through one
    // task at corpus scale
    assert("""windowspecdefinition\(source#\d+, __shard#\d+, __bucket#\d+L? ASC"""
      .r.findFirstIn(plan).isDefined, plan)
  }

  test("the *Tokenized scorers read a persisted tokenization, never the " +
      "corpus") {
    val toks = Curation.tokenized(docs, "doc_id", "text").persist()
    try {
      toks.count()
      for ((name, df) <- Seq(
          "surprisal" -> Curation.unigramSurprisalTokenized(toks, "doc_id"),
          "bigram" -> Curation.bigramSurprisalTokenized(toks, "doc_id"),
          "bm25" -> Curation.bm25Tokenized(toks, "doc_id",
            Seq("w1", "w2", "w3")))) {
        // InMemoryRelation is a leaf of the optimized plan, so any
        // LogicalRelation found is a live scan the cache failed to cover
        val lp = df.queryExecution.optimizedPlan
        assert(lp.collect { case i: InMemoryRelation => i }.nonEmpty,
          s"$name must scan the persisted relation:\n$lp")
        assert(lp.collect { case r: LogicalRelation => r }.isEmpty,
          s"$name must not re-scan the corpus:\n$lp")
      }
    } finally toks.unpersist()
  }

  test("semanticDecontaminate broadcasts the benchmark") {
    val emb = spark.range(2000).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(31)),
        d => pmod(col("id") * (d + 7), lit(97)).cast("double") / 97.0)
        .as("embedding"))
    val plan = executed(Curation.semanticDecontaminate(
      emb.filter(col("vec_id") % 997 =!= 0), "vec_id", "embedding",
      emb.filter(col("vec_id") % 997 === 0), "embedding", 0.99))
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"), plan)
  }
}
