package graft

import graft.operators.PlanScope
import org.apache.spark.sql.functions._

/** The one planner-settings scope: each flip holds inside its thunk, and
  * the session's values come back on normal exit and on a throw. The
  * shared session runs at 4 shuffle partitions — exactly the model-reduce
  * cap — so the specs raise it to 8 to take the flip at all. */
class PlanScopeSpec extends SparkSpec {

  private val Aqe = "spark.sql.adaptive.enabled"
  private val Parts = "spark.sql.shuffle.partitions"

  private def current: (String, String) = (spark.conf.get(Aqe), spark.conf.get(Parts))

  /** `body` with AQE on and `n` shuffle partitions; the shared session's
    * own values are put back afterwards. */
  private def atParts[A](n: Int)(body: => A): A = {
    val (wasAqe, wasN) = current
    spark.conf.set(Aqe, "true")
    spark.conf.set(Parts, n.toString)
    try body finally {
      spark.conf.set(Aqe, wasAqe)
      spark.conf.set(Parts, wasN)
    }
  }

  test("staticPlan turns AQE off inside and restores it after") {
    atParts(8) {
      assert(PlanScope.staticPlan(spark)(current) == ("false", "8"))
      assert(current == ("true", "8"))
    }
  }

  test("modelReduce caps shuffle partitions at 4 inside and restores them after") {
    atParts(8) {
      assert(PlanScope.modelReduce(spark)(current) == ("true", "4"))
      assert(current == ("true", "8"))
    }
  }

  test("nested scopes hold both flips, and an aggregate plans with 4 partitions") {
    atParts(8) {
      val (inside, parts) = PlanScope.staticPlan(spark) {
        PlanScope.modelReduce(spark) {
          (current, spark.range(100).groupBy(col("id") % 7).count()
            .rdd.getNumPartitions)
        }
      }
      assert(inside == ("false", "4"))
      assert(parts == 4)
      assert(current == ("true", "8"))
    }
  }

  test("a throwing thunk still restores both values") {
    atParts(8) {
      var seen: (String, String) = null
      val e = intercept[IllegalStateException] {
        PlanScope.staticPlan(spark) {
          PlanScope.modelReduce(spark) {
            seen = current
            throw new IllegalStateException("boom")
          }
        }
      }
      assert(e.getMessage == "boom")
      assert(seen == ("false", "4"))
      assert(current == ("true", "8"))
    }
  }

  test("modelReduce is a no-op at or below 4 partitions") {
    for (n <- Seq(4, 2)) atParts(n) {
      assert(PlanScope.modelReduce(spark)(current) == ("true", n.toString))
      assert(current == ("true", n.toString))
    }
  }
}
