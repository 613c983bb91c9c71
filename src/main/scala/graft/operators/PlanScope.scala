package graft.operators

import org.apache.spark.sql.SparkSession

/** The one place that scopes planner settings around a driver-side
  * loop: the Lloyd/PQ and BPE training rounds and the PageRank
  * supersteps and edge-table checkpoints.
  *
  * Both scopes flip a SESSION-GLOBAL conf and restore it on any exit,
  * a throwing thunk included. A query constructed CONCURRENTLY on the
  * same session while a scope is open would plan under the flipped
  * value too — acceptable because the harness constructs queries
  * single-threaded (bench/verify run one query at a time). Making the
  * scopes plan-local changes these two bodies and no call site.
  *
  * Neither scope can move a value: AQE never changes results, and every
  * aggregate run inside [[modelReduce]] is an exact integer sum, so its
  * partition count cannot matter (the CPUS=7 robustness sweep pins
  * that). */
private[graft] object PlanScope {

  /** Reduce fan-in of a model-sized aggregate (see [[modelReduce]]). */
  private val ModelReduceParts = 4

  /** AQE off while `f` runs. A training round is a small aggregate
    * ending in a model-sized collect; under AQE every round pays extra
    * query-stage jobs and adaptive re-planning round-trips — driver
    * latency on frames that are model- or vocabulary-sized by contract.
    * PageRank's barrier frames plan their RDD here so the checkpointed
    * edge table keeps its hash(src) partitioning. A query's SERVING
    * plan is constructed after the scope closes, so its adaptive plan
    * (and the PlanAudit/ExchangeAudit pins) are unaffected. */
  def staticPlan[A](spark: SparkSession)(f: => A): A =
    withConf(spark, "spark.sql.adaptive.enabled", "false")(f)

  /** `spark.sql.shuffle.partitions` capped at [[ModelReduceParts]] while
    * `f` runs (a no-op at or below it). Every aggregate planned here
    * reduces to ≤ k·d model rows or a pair-count/argmax frame, so the
    * session-wide reduce fan-out is (cores − a few) near-empty reduce
    * tasks per round job — scheduling overhead at any scale. The map
    * side follows the input partitioning and is untouched. A frame whose
    * own reduce is corpus- or vocabulary-sized (the BPE vocabulary
    * checkpoint, which fixes the rounds' map parallelism) must be
    * planned outside this scope. */
  def modelReduce[A](spark: SparkSession)(f: => A): A =
    if (spark.conf.get("spark.sql.shuffle.partitions").toInt <= ModelReduceParts) f
    else withConf(spark, "spark.sql.shuffle.partitions", ModelReduceParts.toString)(f)

  private def withConf[A](spark: SparkSession, key: String, value: String)(f: => A): A = {
    val was = spark.conf.get(key)
    spark.conf.set(key, value)
    try f finally spark.conf.set(key, was)
  }
}
