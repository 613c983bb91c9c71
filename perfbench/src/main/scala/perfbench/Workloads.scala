package perfbench

import graft.{SparkEntry, SqlEntry}
import graft.Tables.T
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark query: a name, whether it enters through the SQL surface
  * (`SqlEntry`) or the DataFrame surface (`SparkEntry.queries`), and the
  * call that constructs its output frames. Most queries have one output;
  * `martChainViaSql` returns three, and each is executed and checked. */
final case class Query(name: String, sql: Boolean,
                       construct: (SparkSession, String) => Seq[(String, DataFrame)])

object Workloads {
  private def df(name: String): Query =
    Query(name, sql = false, (s, d) => Seq(name -> SparkEntry.queries(name)(s, d)))

  val sqlQ23: Query =
    Query("sql.q23", sql = true, (s, d) => Seq("sql.q23" -> SqlEntry.q23ViaSql(T(s, d))))
  val sqlDaily: Query =
    Query("sql.daily_averages", sql = true,
      (s, d) => Seq("sql.daily_averages" -> SqlEntry.dailyAveragesViaSql(T(s, d))))
  val sqlMartChain: Query =
    Query("sql.mart_chain", sql = true, { (s, d) =>
      val (fact, standings, daily) = SqlEntry.martChainViaSql(T(s, d))
      Seq("sql.mart_chain.fact" -> fact, "sql.mart_chain.standings" -> standings,
        "sql.mart_chain.daily" -> daily)
    })

  /** Each SQL output that has a DataFrame twin must digest exactly like
    * it. The two daily-averages outputs have no DataFrame twin; each is
    * checked against its own recorded digest (at sf0.1 they differ from
    * each other, see perfbench/README.md). */
  val twinOf: Map[String, String] = Map(
    "sql.q23" -> "q23_poll_standings",
    "sql.mart_chain.fact" -> "q22_poll_trends",
    "sql.mart_chain.standings" -> "q23_poll_standings")

  /** Short analyst queries (the planning and job-launch floor) plus the
    * SQL surface. The q23 DataFrame twin, `dailyAveragesViaSql` and
    * `martChainViaSql` (12 s a pass on four cores) are checked by the
    * recorder but not timed: a run cannot afford them. */
  val analystMix: Seq[Query] = Seq(
    "q01_pricing_summary", "q04_market_share", "q09_global_rank",
    "q12_event_counts", "q38_poll_of_polls", "q63_status_rollup",
    "q104_pivot", "q105_rollup",
  ).map(df) :+ sqlQ23

  /** Streaming round trips (child session, parquet sink, checkpoint,
    * state store, foreachBatch upsert) plus compaction: the write side. */
  val streamIngest: Seq[Query] = Seq(
    "q72_streaming_dedup", "q110_streaming_upsert", "q82_compaction",
  ).map(df)

  /** Executor-bound per-row work: native functions, the similarity and
    * range join rewrites, shuffle. */
  val corpusScan: Seq[Query] = Seq(
    "q97_similarity_join", "q124_ts_range_join", "q27_minhash_neardup",
    "q74_pii_scrub", "q25_ann_cosine_topk",
  ).map(df)

  /** Driver-bound iterative trainers (BPE, PageRank, k-means / IVF-PQ).
    * Runnable by name; one pass is far longer than the others. */
  val trainLoops: Seq[Query] = Seq(
    "q172_lex_bpe_train", "q180_lex_bpe_bylang", "q182_lex_bpe_store",
    "q186_lex_mix_pack_bpe", "q156_warmstart_pagerank", "q139_pagerank",
    "q142_kmeans", "q157_ivf_pq", "q162_residual_multiprobe",
  ).map(df)

  val all: Map[String, Seq[Query]] = Map(
    "analyst_mix" -> analystMix,
    "stream_ingest" -> streamIngest,
    "corpus_scan" -> corpusScan,
    "train_loops" -> trainLoops)

  /** Queries whose digests are recorded but that no workload times: the
    * DataFrame twins the SQL outputs are compared against, and the SQL
    * outputs too slow to time. */
  val referenceOnly: Seq[Query] =
    Seq(df("q22_poll_trends"), df("q23_poll_standings"), sqlDaily, sqlMartChain)
}
