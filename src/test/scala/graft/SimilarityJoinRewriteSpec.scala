package graft

import graft.functions.TrigramSimSorted
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{And, Expression, GreaterThanOrEqual, Least, PosExplode}
import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join, LogicalPlan, Repartition}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.functions._

/** The similarity-join optimizer rule: exactness vs the naive nested-loop
  * plan, plan shape (no product join after rewrite), multiplicity via row
  * ids, edge semantics (short/null strings), the opt-out conf, and the
  * q97 plan devices (prune-first conjunct order, streamed-side spread). */
class SimilarityJoinRewriteSpec extends SparkSpec {

  private val EnabledKey = graft.plans.SimilarityJoinRewrite.EnabledKey

  private def withRule[A](on: Boolean)(body: => A): A =
    try { spark.conf.set(EnabledKey, on.toString); body }
    finally spark.conf.unset(EnabledKey)

  private def names(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("id", "name")
  }

  private def naiveJoin(df: DataFrame, thresh: Double = 0.5): DataFrame = {
    val a = df.select(col("id").as("id_a"), col("name").as("name_a"))
    val b = df.select(col("id").as("id_b"), col("name").as("name_b"))
    a.join(b, expr(s"trigram_similarity(name_a, name_b) >= $thresh") &&
        col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(expr("trigram_similarity(name_a, name_b)"), 6).as("sim"))
  }

  private def collectPairs(df: DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toList.sorted

  test("rewritten result equals the naive nested-loop result on real data") {
    val part = Tables.load(spark, "/root/testdata/sf0.001", "part")
      .select(col("p_partkey").as("id"), lower(col("p_name")).as("name"))
    val expected = withRule(on = false)(collectPairs(naiveJoin(part, 0.55)))
    val got = withRule(on = true)(collectPairs(naiveJoin(part, 0.55)))
    assert(expected.nonEmpty)
    assert(got == expected)
  }

  test("the rewrite removes the product join; disabling restores it") {
    val df = names(Seq((1L, "hello world"), (2L, "hello worlds")))
    def productJoins(plan: org.apache.spark.sql.execution.SparkPlan): Int =
      plan.collect {
        case _: BroadcastNestedLoopJoinExec => 1
        case _: CartesianProductExec => 1
      }.sum
    // sparkPlan, not executedPlan: AQE wraps the latter in an
    // AdaptiveSparkPlanExec whose collect() does not descend (same note
    // as PlanAuditSpec)
    val on = withRule(on = true)(naiveJoin(df).queryExecution.sparkPlan)
    val off = withRule(on = false)(naiveJoin(df).queryExecution.sparkPlan)
    assert(productJoins(on) == 0, on.toString)
    assert(productJoins(off) > 0, off.toString)
  }

  test("duplicate input rows keep their multiplicity") {
    val df = names(Seq((1L, "abcdef"), (2L, "abcdef"), (2L, "abcdef")))
    val out = withRule(on = true)(
      naiveJoin(df).groupBy("id_a", "id_b").count().collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap)
    // id 1 joins each of the two id-2 rows
    assert(out == Map((1L, 2L) -> 2L))
  }

  test("short and null strings never match, same as the naive path") {
    val df = names(Seq((1L, "ab"), (2L, "ab"), (3L, null), (4L, "abc"), (5L, "abc")))
    val got = withRule(on = true)(collectPairs(naiveJoin(df)))
    assert(got == List((4L, 5L, 1.0)))
  }

  test("strict and reversed comparison forms rewrite too") {
    val df = names(Seq((1L, "spark engine"), (2L, "spark engines"), (3L, "duckdb")))
    val a = df.select(col("id").as("id_a"), col("name").as("name_a"))
    val b = df.select(col("id").as("id_b"), col("name").as("name_b"))
    for (cond <- Seq("trigram_similarity(name_a, name_b) > 0.5",
                     "0.5 <= trigram_similarity(name_a, name_b)")) {
      val q = a.join(b, expr(cond) && col("id_a") < col("id_b"))
        .select("id_a", "id_b")
      val (plan, rows) = withRule(on = true)(
        (q.queryExecution.sparkPlan, q.collect().map(r => (r.getLong(0), r.getLong(1))).toList))
      assert(plan.collect { case _: BroadcastNestedLoopJoinExec => 1 }.isEmpty, cond)
      assert(rows == List((1L, 2L)), cond)
    }
  }

  test("the rewrite fires through the SQL surface (spark.sql text)") {
    names(Seq((1L, "hello world"), (2L, "hello worlds"), (3L, "unrelated")))
      .createOrReplaceTempView("sjr_docs")
    val q = spark.sql(
      """SELECT a.id AS id_a, b.id AS id_b FROM sjr_docs a JOIN sjr_docs b
        |ON trigram_similarity(a.name, b.name) >= 0.5 AND a.id < b.id""".stripMargin)
    val (plan, rows) = withRule(on = true)(
      (q.queryExecution.sparkPlan,
        q.collect().map(r => (r.getLong(0), r.getLong(1))).toList))
    assert(plan.collect { case _: BroadcastNestedLoopJoinExec => 1 }.isEmpty)
    assert(rows == List((1L, 2L)))
  }

  test("property: rewrite equals naive on random corpora and thresholds") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // multi-byte + short + repeated tokens — the shapes where a prefix
    // or gram-set bug would diverge from the naive full comparison
    val wordGen = Gen.oneOf("the", "quick", "fox", "über", "größe",
      "naïve", "東京", "a", "bb", "stream", "hash", "x1", "ß")
    val textGen = Gen.choose(0, 6).flatMap(n => Gen.listOfN(n, wordGen))
      .map(_.mkString(" "))
    def sample[A](g: Gen[A], n: Int, seed: Long): Seq[A] =
      Gen.listOfN(n, g).pureApply(Gen.Parameters.default, Seed(seed))
    for ((thresh, seed) <- Seq((0.3, 11L), (0.55, 23L), (0.8, 37L), (1.0, 41L))) {
      val texts = sample(textGen, 60, seed)
      val df = names(texts.zipWithIndex.map { case (s, i) => (i.toLong, s) })
      val expected = withRule(on = false)(collectPairs(naiveJoin(df, thresh)))
      val got = withRule(on = true)(collectPairs(naiveJoin(df, thresh)))
      assert(got == expected, s"thresh=$thresh seed=$seed")
    }
  }

  test("q97 plan: prune conjunct precedes the sim merge; one spread under the streamed explode") {
    import spark.implicits._
    // q97's shape: a within-brand self-join on name similarity
    val part = Seq((1L, "b1", "Red Steel Bolt"), (2L, "b1", "red steel bolts"),
      (3L, "b2", "blue copper pipe"), (4L, "b2", "Blue Copper Pipes"))
      .toDF("p_partkey", "p_brand", "p_name")
      .select(col("p_partkey"), col("p_brand"), lower(col("p_name")).as("name"))
    val a = part.select(col("p_partkey").as("key_a"), col("p_brand").as("brand"),
      col("name").as("name_a"))
    val b = part.select(col("p_partkey").as("key_b"), col("p_brand").as("brand_b"),
      col("name").as("name_b"))
    val q = a.join(b, col("brand") === col("brand_b") && col("key_a") < col("key_b") &&
        expr("trigram_similarity(name_a, name_b) >= 0.55"))
      .select(col("key_a"), col("key_b"))
    val (plan, rows) = withRule(on = true)(
      (q.queryExecution.optimizedPlan, q.collect().map(r => (r.getLong(0), r.getLong(1))).toSet))
    assert(rows == Set((1L, 2L), (3L, 4L)))
    val joins = plan.collect {
      case j: Join if j.condition.exists(_.exists(_.isInstanceOf[TrigramSimSorted])) => j
    }
    assert(joins.size == 1, plan.treeString)
    val join = joins.head
    // predicate pushdown folded the rewrite's cost-ordered Filter into
    // the join condition: the integer-only positional prune must come
    // before the first sorted-merge similarity for And to short-circuit
    val conjuncts = splitConjuncts(join.condition.get)
    val prune = conjuncts.indexWhere {
      case GreaterThanOrEqual(_: Least, _) => true
      case _ => false
    }
    val firstSim = conjuncts.indexWhere(_.exists(_.isInstanceOf[TrigramSimSorted]))
    assert(prune >= 0 && firstSim >= 0, conjuncts.mkString("\n"))
    assert(prune < firstSim, conjuncts.mkString("\n"))
    // a self-join ties on size, so the left side streams and only its
    // gram explode sits on a round-robin spread
    def spreadsUnderExplode(side: LogicalPlan): Int = side.collect {
      case g @ Generate(_: PosExplode, _, _, _, _, _) =>
        g.child.collect { case r: Repartition if r.shuffle => r }.size
    }.sum
    assert(spreadsUnderExplode(join.left) == 1, join.left.treeString)
    assert(spreadsUnderExplode(join.right) == 0, join.right.treeString)
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  test("non-literal thresholds are left alone (still correct, just naive)") {
    val df = names(Seq((1L, "alpha beta"), (2L, "alpha betas")))
    val a = df.select(col("id").as("id_a"), col("name").as("name_a"))
    val b = df.select(col("id").as("id_b"), col("name").as("name_b"),
      lit(0.5).as("t"))
    val q = a.join(b, expr("trigram_similarity(name_a, name_b) >= t * 1.0") &&
      col("id_a") < col("id_b")).select("id_a", "id_b")
    val rows = withRule(on = true)(q.collect().map(r => (r.getLong(0), r.getLong(1))).toList)
    assert(rows == List((1L, 2L)))
  }
}
