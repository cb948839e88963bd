package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.Pairs

/** The custom pair-generation operator (plans/Pairs.scala): equality
  * with the self-join it replaces, the one-exchange plan shape, and the
  * skew guard. */
class PairsSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  /** Deterministic pseudo-random rows: (group g, id, payload) with group
    * sizes from 0 pairs (singleton) up to hundreds. */
  private def sample = {
    val rows = (1 to 2000).map { i =>
      val g = (i * 2654435761L % 37).toInt % 13 // 13 groups, skewed sizes
      (s"g$g", i % 5, i.toLong, i.toLong * 31 % 997)
    }
    rows.toDF("k1", "k2", "id", "w").repartition(7)
  }

  test("withinGroups equals the self-join on composite keys, pairs ordered a<b") {
    val df = sample
    val viaOp = Pairs.withinGroups(df, Seq("k1", "k2"), "id", Seq("w"))
      .select("k1", "k2", "a_id", "a_w", "b_id", "b_w")
    val l = df.select(col("k1"), col("k2"), col("id").as("a_id"), col("w").as("a_w"))
    val r = df.select(col("k1").as("k1b"), col("k2").as("k2b"),
      col("id").as("b_id"), col("w").as("b_w"))
    val viaJoin = l.join(r,
        col("k1") === col("k1b") && col("k2") === col("k2b") && col("a_id") < col("b_id"))
      .select("k1", "k2", "a_id", "a_w", "b_id", "b_w")
    Equality.compareDfs(viaOp, viaJoin)
    assert(viaOp.filter(col("a_id") >= col("b_id")).isEmpty)
    // sanity: pair count per group is n·(n−1)/2
    val n = df.filter(col("k1") === "g1" && col("k2") === 0).count()
    assert(viaOp.filter(col("k1") === "g1" && col("k2") === 0).count() == n * (n - 1) / 2)
  }

  test("one exchange, no join, and group-key clustering is reused downstream") {
    val df = sample
    val pairs = Pairs.withinGroups(df, Seq("k1", "k2"), "id")
    // re-aggregating on the group key must NOT add a second exchange:
    // the operator preserves the child's partitioning attributes
    val agg = pairs.groupBy("k1", "k2").agg(count(lit(1)).as("n_pairs"))
    agg.collect()
    val plan = agg.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(plan.contains("PairsWithinGroups"), s"custom operator missing:\n$plan")
    assert(!plan.contains("Join"), s"operator should replace the join:\n$plan")
    // the test input's own repartition(7) is a round-robin exchange; the
    // operator itself must add exactly ONE clustering exchange, and the
    // downstream aggregate must reuse it (no exchange above the operator)
    val exchanges = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"expected exactly one clustering exchange, got $exchanges:\n$plan")
    val opLine = plan.linesIterator.indexWhere(_.contains("PairsWithinGroups"))
    assert(!plan.linesIterator.take(opLine).exists(_.contains("Exchange")),
      s"aggregate above the operator re-shuffled instead of reusing its clustering:\n$plan")
  }

  test("singleton and empty inputs produce no pairs; null keys group together") {
    val empty = Seq.empty[(String, Long)].toDF("k", "id")
    assert(Pairs.withinGroups(empty, Seq("k"), "id").isEmpty)
    val singletons = Seq(("a", 1L), ("b", 2L)).toDF("k", "id")
    assert(Pairs.withinGroups(singletons, Seq("k"), "id").isEmpty)
    // groupBy semantics on nulls (unlike an equi-join, which drops them)
    val nulls = Seq((Option.empty[String], 1L), (Option.empty[String], 2L), (Some("x"), 3L))
      .toDF("k", "id")
    val p = Pairs.withinGroups(nulls, Seq("k"), "id").select("a_id", "b_id").as[(Long, Long)]
    assert(p.collect().toSeq == Seq((1L, 2L)))
  }

  test("maxGroupRows names the hot key instead of a stuck quadratic task") {
    val hot = (1 to 100).map(i => ("same", i.toLong)).toDF("k", "id")
    val err = intercept[org.apache.spark.SparkException] {
      Pairs.withinGroups(hot, Seq("k"), "id", maxGroupRows = 10).collect()
    }
    assert(err.getMessage.contains("maxGroupRows") || err.getCause.getMessage.contains("maxGroupRows"))
  }

  test("an aggregate over the pairs compiles as one codegen stage and equals the interpreted path") {
    // the parent aggregate appends its finish after the operator's
    // produce loop; that loop must fall through at end of input or
    // Janino rejects the stage as unreachable code
    def agg(conf: String, value: String): Seq[org.apache.spark.sql.Row] = {
      val prev = spark.conf.getOption(conf)
      spark.conf.set(conf, value)
      try Pairs.withinGroups(sample, Seq("k1", "k2"), "id", Seq("w"))
        .groupBy("k1", "k2")
        .agg(count(lit(1)).as("n"), sum(col("a_w") + col("b_w")).as("s"))
        .orderBy("k1", "k2").collect().toSeq
      finally prev.fold(spark.conf.unset(conf))(spark.conf.set(conf, _))
    }
    val compiled = agg("spark.sql.codegen.fallback", "false")
    assert(compiled.nonEmpty)
    assert(compiled == agg("spark.sql.codegen.wholeStage", "false"))
  }
}
