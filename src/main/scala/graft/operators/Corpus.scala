package graft.operators

import graft.Tables.T
import graft.Serve._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-construction operators — the stages between a filtered document
  * pool and a training run: mixture sampling (what fraction of each
  * stratum to keep), model-based scoring (learn corpus statistics, apply
  * them back per document), and sequence packing (where each document
  * lands in the concatenated token stream). Complements the dedup
  * (TextDedup), quality (TextAnalysis q30/q73/q74), and ANN (Similarity)
  * families.
  *
  * Everything here is exact integer arithmetic or int/int division (exact
  * in IEEE754), so the DuckDB oracle replays every value bit-for-bit —
  * no transcendentals, no accumulation-order-dependent FP.
  */
object Corpus {

  /** Per-language keep rates out of 1000 — the mixture weights a data
    * recipe would assign (upsample low-resource strata, downsample the
    * dominant one). A when-chain, not a lookup join: five literals belong
    * in the plan, where constant folding sees them. */
  private def keepRate(lang: Column): Column =
    when(lang === "en", 350)
      .when(lang === "de", 800)
      .when(lang === "es", 600)
      .when(lang === "fr", 500)
      .when(lang === "zh", 900)
      .otherwise(250)

  /** q75 — stratified mixture sampling: every document draws a
    * deterministic bucket in [0, 1000) from the portable 60-bit md5 hash
    * of its id (the q51 replayable-sample device) and is kept iff the
    * bucket clears its stratum's rate. Output is the per-stratum audit a
    * mixture run logs: target rate, realized keep fraction, kept token
    * mass.
    *
    * 100 TB design: the keep decision is map-side per row (hash +
    * compare, no state); the audit aggregate shuffles five groups. The
    * same decision column, filtered instead of aggregated, IS the
    * sampled corpus — the audit and the sample share one scan. */
  def q75MixtureSample(t: T): DataFrame =
    t.documents
      .withColumn("bucket",
        expr(s"${TextDedup.h60(75, "CAST(doc_id AS STRING)")} % 1000"))
      .withColumn("keep", col("bucket") < keepRate(col("lang")))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        count_if(col("keep")).as("n_kept"),
        sum(when(col("keep"), col("n_chars")).otherwise(0L)).as("chars_kept"))
      .withColumn("target_rate", keepRate(col("lang")) * lit(1.0) / 1000)
      .withColumn("kept_frac", col("n_kept") * lit(1.0) / col("n_docs"))
      .select("lang", "n_docs", "n_kept", "target_rate", "kept_frac", "chars_kept")
      .smallSort("lang")

  /** q76 — token-rarity scoring, the learn-then-apply shape of a CCNet-
    * style model filter: pass 1 learns per-language corpus term
    * frequencies (the "language model"); pass 2 joins them back onto the
    * token stream and scores each document by the average corpus
    * frequency of its tokens (low average = rare vocabulary). Exact
    * integer statistics stand in for log-probabilities so the oracle
    * replays values bit-for-bit; the tier thresholds split the corpus the
    * way a perplexity head/middle/tail split would.
    *
    * 100 TB design: ONE corpus-wide shuffle. The token stream collapses
    * to (doc, term, n_occ) rows first — partial aggregation combines
    * map-side, so the exchange carries term-count rows, not token
    * occurrences — and BOTH later stages derive from that aggregate: the
    * LM is a tiny re-aggregate of it (wc = Σ_docs n_occ), and the apply
    * join broadcasts the vocabulary-sized LM back onto the same rows
    * (sum_freq = Σ_w n_occ·wc ≡ Σ_tokens wc). Scoring by doc_id comes
    * map-side free: AQE reuses the (doc, term) exchange for both
    * consumers. The naive form — join the LM onto every token occurrence
    * and countDistinct for vocabulary — pays an Expand over the token
    * stream plus a second corpus-wide join; measured 2× slower at
    * sf0.1. */
  def q76RarityScore(t: T): DataFrame = {
    // ONE codegen'd pass per document builds the (term → n_occ) histogram
    // (functions/TokenCounts.scala) and the map explode emits the exact
    // (doc, term, n_occ) rows the previous explode + groupBy(doc, lang, w)
    // produced — but the token-occurrence stream never materializes and
    // the per-occurrence hash-aggregate work collapses into a per-document
    // map build (measured ~2× on the dw stage at sf0.1).
    val dw = t.documents
      .select(col("doc_id"), col("lang"),
        explode(expr("token_counts(text)")).as(Seq("w", "n_occ")))
      // Feeds BOTH the per-language LM aggregate and the join probe side;
      // without truncation the scan+histogram runs once per consumer.
      // Lazy localCheckpoint (MEMORY_AND_DISK, spills) is the same
      // 2-consumer treatment as q27's shingle stream.
      .localCheckpoint(false)
    val lm = dw.groupBy("lang", "w").agg(sum("n_occ").as("wc"))
    // No broadcast() hint on the LM side (r9 watch item): a forced hint is
    // correct at any realistic vocabulary but would OOM the driver on an
    // adversarial web-scale one. AQE measures the LM's ACTUAL bytes at
    // runtime and converts to a broadcast join when it fits
    // (adaptive.autoBroadcastJoinThreshold), falling back to a shuffle
    // join when it doesn't — and that fallback reuses the hash(lang, w)
    // partitioning the LM aggregate already produced, so both join
    // children arrive pre-partitioned. CorpusSpec pins the fallback.
    dw
      .join(lm, Seq("lang", "w"))
      .groupBy("doc_id")
      .agg(
        sum("n_occ").as("n_tokens"),
        count(lit(1)).as("vocab_seen"),
        sum(col("n_occ") * col("wc")).as("sum_freq"),
        min("wc").as("min_freq"))
      .withColumn("avg_freq", col("sum_freq") * lit(1.0) / col("n_tokens"))
      .withColumn("rarity_tier",
        when(col("avg_freq") < 1300, "rare")
          .when(col("avg_freq") < 2000, "mid")
          .otherwise("common"))
      .select("doc_id", "n_tokens", "vocab_seen", "sum_freq", "min_freq",
        "avg_freq", "rarity_tier")
      .localCheckpoint(false)
      .orderBy("doc_id")
  }

  /** The corpus-normalized rarity core (q174): q76's learn-then-apply
    * pipeline with the score expressed as an exact per-million share of
    * the language's token mass — freq_ppm = Σ(n_occ·wc)·10^6 DIV
    * (n_tokens·N_lang). Scale-free where q76's absolute thresholds are
    * corpus-size-bound (E[freq_ppm] ≈ Σ_r p_r² · 10^6 at any SF), and
    * integer-exact end to end: no doubles anywhere, so the oracle
    * replay is bit-identity, not epsilon-identity.
    *
    * 100 TB shape: q76's exactly — ONE corpus-wide (doc, term, n_occ)
    * shuffle feeding both the per-language LM re-aggregate and the
    * apply join (AQE broadcast when the vocabulary fits), plus a
    * languages-sized (≤ a handful of rows) mass join. Overflow bound:
    * sum_freq ≤ n_tokens·max_wc and the ·10^6 product stays under 2^63
    * for any corpus where one language's token mass is < ~3·10^9 per
    * max doc length 500 — beyond that, rescale to per-mille. */
  def rarityScorePpm(documents: DataFrame,
                     rarePpmLt: Long, midPpmLt: Long): DataFrame = {
    val dw = documents
      .select(col("doc_id"), col("lang"),
        explode(expr("token_counts(text)")).as(Seq("w", "n_occ")))
      .localCheckpoint(false) // feeds the LM, the mass row, AND the probe
    val lm = dw.groupBy("lang", "w").agg(sum("n_occ").as("wc"))
    val mass = dw.groupBy("lang").agg(sum("n_occ").as("n_lang"))
    dw
      .join(lm, Seq("lang", "w"))
      .groupBy("doc_id", "lang")
      .agg(
        sum("n_occ").as("n_tokens"),
        count(lit(1)).as("vocab_seen"),
        sum(col("n_occ") * col("wc")).as("sum_freq"),
        min("wc").as("min_freq"))
      .join(broadcast(mass), Seq("lang"))
      .withColumn("freq_ppm",
        expr("sum_freq * 1000000L DIV (n_tokens * n_lang)"))
      .withColumn("rarity_tier",
        when(col("freq_ppm") < rarePpmLt, "rare")
          .when(col("freq_ppm") < midPpmLt, "mid")
          .otherwise("common"))
      .select("doc_id", "lang", "n_tokens", "vocab_seen", "sum_freq",
        "min_freq", "freq_ppm", "rarity_tier")
      .orderBy("doc_id")
  }

  /** Per-source document cap (q78). */
  val SourceCap = 40
  /** Salt fan-out for the two-phase top-k (q78). */
  val CapSalts = 8

  /** q78 — per-source quota capping: keep at most SourceCap documents per
    * source, chosen by a deterministic hash order (the replayable-sample
    * device again, so re-runs and the oracle pick identical survivors).
    * The per-domain cap of a web-corpus pipeline.
    *
    * 100 TB design: a source can hold billions of rows, so a straight
    * `row_number() OVER (PARTITION BY source)` is one task per source —
    * the skew scale-killer. Two bounded phases instead: phase 1 ranks
    * within (source, salt) — CapSalts× the parallelism, partitions
    * bounded — and keeps each salt's top SourceCap, a provable superset
    * of the global top (any row outside its salt's top-k is beaten by k
    * rows in its own salt alone); phase 2 ranks the ≤ CapSalts·SourceCap
    * survivors per source, a bounded relation. The oracle replays the
    * one-level window — identical survivors and ranks by the total
    * (bucket, doc_id) tie-break. */
  def q78SourceCap(t: T): DataFrame = {
    val ranked = t.documents
      .select(col("doc_id"), col("source"),
        expr(s"${TextDedup.h60(78, "CAST(doc_id AS STRING)")} % 1000000")
          .as("bucket"))
      .withColumn("salt", col("doc_id") % CapSalts)
    val w1 = Window.partitionBy("source", "salt")
      .orderBy(col("bucket"), col("doc_id"))
    val w2 = Window.partitionBy("source").orderBy(col("bucket"), col("doc_id"))
    ranked
      .withColumn("rn1", row_number().over(w1))
      .filter(col("rn1") <= SourceCap)
      .withColumn("rank", row_number().over(w2))
      .filter(col("rank") <= SourceCap)
      .select("source", "rank", "doc_id", "bucket")
      .orderBy("source", "rank")
  }

  /** 7 words per probe shingle (q79). */
  val ProbeGram = 7

  /** q79 — decontamination: flag training documents that share any
    * ProbeGram-word shingle with a held-out evaluation set (docs with
    * doc_id % 97 == 0 stand in for the benchmark), and report per probe
    * document how much of it leaks into training — the overlap audit an
    * evaluation-hygiene pass produces. Zero-leak probes stay in the
    * output (left join), so the report always covers the full eval set.
    *
    * 100 TB design: the q27 shingling shape — distinct (doc, gram) rows,
    * one equi-join on the gram (never doc×doc), two groupBys. The probe
    * side is eval-set-sized; AQE broadcasts it when small. */
  /** The q79/q131/q133 probe-gram frame: per-doc DISTINCT 7-word-shingle
    * 60-bit hashes, built map-side (see the q79 scaladoc for why the
    * distinct is per-row and the string never crosses an exchange). */
  private def probeGrams(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("words"))
      .filter(size(col("words")) >= ProbeGram)
      // per-row array_distinct, not a corpus-wide .distinct(): 7-word
      // shingles rarely repeat within a document, so the global hash
      // shuffle + materialization it required bought almost no row
      // reduction (measured ~2× the query at sf0.1); the per-row form
      // keeps shingling map-side on both join branches. The gram string
      // exists only transiently in the projection — the exchange carries
      // its 60-bit md5 hash (8 bytes vs ~50-byte strings), the q84
      // discipline; the oracle applies the identical hash, and a
      // (≈2^-60-scale) collision only overcounts a leak — the
      // conservative direction for decontamination.
      .select(col("doc_id"), explode(array_distinct(expr(
        s"transform(sequence(0, size(words) - $ProbeGram), i -> " +
          s"${TextDedup.h60(79,
            (0 until ProbeGram).map(k => s"words[i + $k]")
              .mkString("concat_ws(' ', ", ", ", ")"))})"))).as("gram"))

  def q79Decontaminate(t: T): DataFrame = {
    val grams = probeGrams(t.documents)
    val probe = grams.filter(col("doc_id") % 97 === 0)
      .select(col("doc_id").as("probe_doc"), col("gram"))
    val train = grams.filter(col("doc_id") % 97 =!= 0)
      .select(col("doc_id").as("train_doc"), col("gram"))
    val hits = probe.join(train, Seq("gram"))
      .groupBy("probe_doc")
      .agg(
        countDistinct("gram").as("n_leaked_grams"),
        countDistinct("train_doc").as("n_train_docs"))
    probe.groupBy("probe_doc")
      .agg(count(lit(1)).as("n_probe_grams"))
      .join(hits, Seq("probe_doc"), "left")
      .select(col("probe_doc"),
        col("n_probe_grams"),
        coalesce(col("n_leaked_grams"), lit(0L)).as("n_leaked_grams"),
        coalesce(col("n_train_docs"), lit(0L)).as("n_train_docs"),
        (coalesce(col("n_leaked_grams"), lit(0L)) * lit(1.0) /
          col("n_probe_grams")).as("leak_frac"))
      // one row per probe doc — the synthetic probe set scales with the
      // corpus, so keep the distributed sort (a deployed eval set is
      // fixed-size and could smallSort)
      .orderBy("probe_doc")
  }

  /** q131 — the Bloom-filter decontamination PRE-FILTER: q79's exact
    * gram join, fronted by the 100 TB pushdown a real pipeline would
    * deploy (the shape Spark itself automates for equi-joins via
    * `spark.sql.optimizer.runtime.bloomFilter` — built explicitly here
    * because the eval set is a REUSABLE artifact, not a per-query
    * runtime filter). The eval side's distinct gram hashes collapse to
    * one 2 KiB `bloom_bits` bit array (`functions/BloomBits.scala`)
    * broadcast to every task; each train gram is tested MAP-SIDE with
    * three shift-and-mask probes, and only candidates would need the
    * exact join. Both legs run here side by side — `n_candidates` from
    * the bloom, `n_exact` from the q79-style gram equi-join — so the
    * output pins the filter's two contractual properties row by row:
    * NO FALSE NEGATIVES (`no_false_negatives`: every exact hit is a
    * candidate — what makes the pushdown safe) and a bounded
    * false-positive sliver (`n_false_pos`, the only wasted work at
    * scale; ~(fill)^3 of each doc's grams at the measured ~10-35%%
    * fill). The 1-row broadcast crossJoin is the q16/q83 allowlisted
    * scalar-broadcast pattern. */
  /** The READ side of `bloom_bits`' geometry (m = 16384 bits, k = 3
    * disjoint 14-bit fields of the 60-bit hash —
    * `functions/BloomBits.scala:15-28`): a SQL predicate testing column
    * `gram` against a broadcast `bf` bit-array column with three
    * shift-and-mask probes. ONE definition shared by q131 (the audit
    * that pins no-false-negatives) and q133 (the wired-in pre-filter):
    * the r12 review flagged the verbatim duplicate — a geometry change
    * applied to one site but not the other would silently desynchronize
    * candidacy and make q133 drop true contamination hits. */
  private def bloomCandidateSql: String =
    (0 until 3).map { i =>
      val bp = s"((gram DIV ${1L << (14 * i)}) % 16384)"
      s"((shiftrightunsigned(element_at(bf, CAST($bp DIV 64 AS INT) + 1), " +
        s"CAST($bp % 64 AS INT)) & 1) = 1)"
    }.mkString("(", " AND ", ")")

  def q131BloomDecontam(t: T): DataFrame = {
    val grams = probeGrams(t.documents)
    val evalG = grams.filter(col("doc_id") % 97 === 0)
      .select(col("gram")).distinct()
    val trainG = grams.filter(col("doc_id") % 97 =!= 0)
      .select(col("doc_id").as("train_doc"), col("gram"))
    val bloom = evalG.agg(expr("bloom_bits(gram)").as("bf"))
      .withColumn("n_set_bits", expr(
        "aggregate(transform(bf, x -> bit_count(x)), 0, (a, x) -> a + x)"))
    trainG.crossJoin(broadcast(bloom))
      .withColumn("candidate", expr(bloomCandidateSql))
      .join(evalG.withColumn("in_eval", lit(true)), Seq("gram"), "left")
      .groupBy("train_doc")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("candidate"), 1L).otherwise(0L)).as("n_candidates"),
        sum(when(col("in_eval").isNotNull, 1L).otherwise(0L)).as("n_exact"),
        sum(when(col("candidate") && col("in_eval").isNull, 1L).otherwise(0L))
          .as("n_false_pos"),
        min(when(col("in_eval").isNotNull, when(col("candidate"), 1).otherwise(0))
          .otherwise(1)).as("nfn_i"),
        max(col("n_set_bits")).as("n_set_bits"))
      .withColumn("no_false_negatives", col("nfn_i") === 1)
      .select("train_doc", "n_grams", "n_candidates", "n_exact",
        "n_false_pos", "no_false_negatives", "n_set_bits")
      .orderBy("train_doc")
  }

  /** Tokens per training sequence (q77). */
  val SeqTokens = 512
  /** Documents per accumulation chunk (q77) — bounds every window
    * partition; see the scaladoc below. */
  val ChunkDocs = 1000

  /** q77 — sequence packing: pretraining concatenates each language's
    * documents in a fixed order and splits the stream at SeqTokens
    * boundaries, so a document's training-sequence span is determined by
    * its token offset in the stream. Emits per document the offset,
    * first/last sequence index, and span width.
    *
    * 100 TB design — the whole point of this operator's shape: the naive
    * plan is `sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id)`,
    * which shuffles the corpus into ONE task per language — a handful of
    * stragglers each sorting terabytes. Instead the classic two-phase
    * scan, fully declarative:
    *   1. chunk the stream by the DATA (doc_id div ChunkDocs), so every
    *      window partition is ≤ ChunkDocs rows — within-chunk running
    *      sums are bounded and embarrassingly parallel;
    *   2. per-(lang, chunk) totals are a tiny aggregate (corpus/ChunkDocs
    *      rows); their exclusive running sum — the chunk's global offset —
    *      is a window over that TINY relation;
    *   3. broadcast-join the chunk offsets back and add the within-chunk
    *      prefix. offset = chunk_offset + within_prev, exactly the value
    *      the one-task window would have produced, at full parallelism.
    * DuckDB replays it as the plain one-level cumulative sum — identical
    * values, different (scale-safe) plan. */
  def q77SequencePack(t: T): DataFrame =
    packOffsets(
      t.documents.select(col("doc_id"), col("lang"),
        size(split(trim(col("text")), "\\s+")).as("n_tokens")),
      SeqTokens, ChunkDocs)
      // no pre-sort checkpoint: the within-chunk window's exchange already
      // materializes under AQE, so the range sort's sampling pass replays
      // only the cheap post-window join — a checkpoint was measured noise
      // either way at sf0.1
      .orderBy("doc_id")

  /** The reusable packing core over (doc_id, lang, n_tokens) rows —
    * parameterized so specs can shrink the chunk size and force the
    * multi-chunk accumulation path on a small corpus. */
  def packOffsets(docs: DataFrame, seqTokens: Int, chunkDocs: Int): DataFrame = {
    val base = docs.withColumn("chunk", expr(s"doc_id div $chunkDocs"))
    val wChunk = Window.partitionBy("lang", "chunk").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    // FUSED two-phase prefix (r19, mixCumBefore's device): the
    // within-chunk prefix and the per-chunk total share ONE (lang,
    // chunk) exchange as two windows over the same partitioning; the
    // chunk-total aggregate then reads the already-partitioned window
    // output exchange-free, and only the chunk summary re-shuffles for
    // the cross-chunk prefix. Values identical.
    val withinPrev = base
      .withColumn("within_prev", coalesce(sum("n_tokens").over(wChunk), lit(0L)))
      .withColumn("chunk_tokens",
        sum("n_tokens").over(Window.partitionBy("lang", "chunk")))
    val chunkTotals = withinPrev.groupBy("lang", "chunk")
      .agg(max("chunk_tokens").as("chunk_tokens"))
    val wStream = Window.partitionBy("lang").orderBy("chunk")
      .rowsBetween(Window.unboundedPreceding, -1)
    val chunkOffsets = chunkTotals
      .withColumn("chunk_offset", coalesce(sum("chunk_tokens").over(wStream), lit(0L)))
      .select("lang", "chunk", "chunk_offset")
    withinPrev.drop("chunk_tokens")
      // no broadcast hint: chunkOffsets is corpus/chunkDocs rows — small
      // here, but at 100 TB it is 10^7 rows and must not be FORCED into
      // the driver. AQE broadcasts it while it is small; past that the
      // join reuses the (lang, chunk) partitioning the window just
      // established, so the fallback shuffles only the tiny offsets side.
      .join(chunkOffsets, Seq("lang", "chunk"))
      .withColumn("seq_offset", col("chunk_offset") + col("within_prev"))
      .withColumn("first_seq", expr(s"seq_offset div $seqTokens"))
      .withColumn("last_seq",
        expr(s"(seq_offset + n_tokens - 1) div $seqTokens"))
      .withColumn("n_seqs", col("last_seq") - col("first_seq") + 1)
      .select("doc_id", "lang", "n_tokens", "seq_offset", "first_seq",
        "last_seq", "n_seqs")
  }

  /** Output shards for q83. */
  val TrainShards = 16
  /** Contiguous hash-range buckets for q83's two-phase cumulative sum:
    * h div 2^48 over the 60-bit hash → 4096 buckets, ≫ cores at any
    * scale, each a bounded window partition. */
  val ShardBucketShift = 48

  /** q83 — deterministic training-shard assignment: the writer stage of a
    * corpus pipeline. Documents are laid out in the replayable md5-hash
    * order (the q51/q75 portable-"random" device — a re-run, a resumed
    * job, and the oracle all see the identical layout), the token stream
    * is cumulatively summed in that order, and each document lands in
    * shard `cum_before div ceil(total/TrainShards)` — contiguous token
    * ranges, so every shard carries within one document of the same token
    * budget (balanced by TOKENS, not docs: a shard of long documents
    * doesn't starve trainers).
    *
    * 100 TB design: no global sort. The hash is uniform, so its top bits
    * give 4096 CONTIGUOUS buckets of the global order (bucket b's hashes
    * all precede bucket b+1's); the cumulative sum is then the q77
    * two-phase device in hash order — a bounded within-bucket window plus
    * a 4096-row bucket-offset prefix sum — and the global token total is
    * a broadcast 1-row aggregate. At corpus sizes where 4096-row offsets
    * themselves need distributing, the same bucket split recurses one
    * level. */
  def q83ShardAssign(t: T): DataFrame = {
    val d = t.documents
      .select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"))
      .withColumn("h", expr(TextDedup.h60(83, "CAST(doc_id AS STRING)")))
      .withColumn("bucket", expr(s"h div ${1L << ShardBucketShift}"))
    val wB = Window.partitionBy("bucket").orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val withinPrev = d
      .withColumn("within_prev", coalesce(sum("n_tokens").over(wB), lit(0L)))
    val bucketTotals = d.groupBy("bucket").agg(sum("n_tokens").as("bucket_tokens"))
    // whole-frame window over the 4096-row bucket aggregate —
    // post-aggregate-small by construction
    val wS = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    val bucketOffsets = bucketTotals
      .withColumn("bucket_offset", coalesce(sum("bucket_tokens").over(wS), lit(0L)))
      .select("bucket", "bucket_offset")
    val total = d.agg(sum("n_tokens").as("total_tokens"))
    withinPrev
      .join(bucketOffsets, Seq("bucket"))
      .crossJoin(broadcast(total))
      .withColumn("cum_before", col("bucket_offset") + col("within_prev"))
      .withColumn("shard_id",
        least(lit(TrainShards - 1),
          expr(s"cum_before div CAST(ceil(total_tokens / $TrainShards.0) AS BIGINT)"))
          .cast("int"))
      .select("doc_id", "n_tokens", "shard_id")
      .orderBy("doc_id")
  }

  /** Sliding-window chunk geometry: 48-token windows every 32 tokens
    * (16-token overlap) — sized to the test corpus's 10–99-word documents
    * so multi-chunk splitting is genuinely exercised; the context-window
    * prep step between document cleaning and sequence packing (q77 packs
    * whole docs; this splits docs that exceed the window). */
  val ChunkSize = 48
  val ChunkStride = 32

  /** q90 — overlapping token chunking: each document yields one chunk per
    * stride offset (the final chunk may be short), identified by a chunk
    * hash over the rejoined window text.
    *
    * 100 TB design: entirely MAP-SIDE — the starts sequence + slice +
    * hash runs inside one projection over the scan, no shuffle at all
    * before the serving sort; chunk count per doc is ⌈n/stride⌉, so
    * output scales linearly with corpus tokens. */
  def q90Chunk(t: T): DataFrame = chunk(t.documents)

  /** The reusable chunking core — public so specs drive hand-built
    * corpora through the identical pipeline. */
  def chunk(documents: DataFrame, width: Int = ChunkSize,
            stride: Int = ChunkStride): DataFrame =
    documents
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("w"))
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(0), size(col("w")) - 1,
          lit(stride))).as("chunk_start"))
      .select(
        col("doc_id"),
        (col("chunk_start") / stride).cast("int").as("chunk_id"),
        col("chunk_start"),
        size(slice(col("w"), col("chunk_start") + 1, lit(width))).as("n_tokens"),
        md5(array_join(slice(col("w"), col("chunk_start") + 1, lit(width)), " "))
          .as("chunk_hash"))
      .orderBy("doc_id", "chunk_id")

  /** Temperature exponent for q91: keep rates ∝ n_s^α flatten the source
    * distribution (α < 1 upsamples small sources relative to their raw
    * share — the multilingual-mixture trick applied to sources). */
  val MixAlpha = 0.5

  /** Overall sampling budget as a fraction of the corpus. */
  val MixBudgetFrac = 0.4

  /** q91 — temperature-scaled mixture audit: targets per source are
    * budget · n_s^α / Σ n^α, realized by a deterministic per-doc hash
    * threshold in parts-per-million; the output compares realized kept
    * counts against targets per source.
    *
    * 100 TB design: learn-then-apply like q76 — the per-source stats are
    * one tiny aggregate broadcast back onto the scan; the keep decision
    * is a map-side integer hash compare (replayable, no RNG state); the
    * audit aggregate is one shuffle of source-keyed partials. */
  /** The per-source sampling plan — (source, n_docs, share, target, thr)
    * with thr the parts-per-million hash threshold realizing the target.
    * Public so specs pin the temperature arithmetic on hand-built
    * corpora. */
  def temperatureMixPlan(documents: DataFrame): DataFrame = {
    val bySource = documents.groupBy("source")
      .agg(count(lit(1)).as("n_docs"))
    val tot = bySource.agg(
      sum("n_docs").as("n_total"),
      sum(pow(col("n_docs").cast("double"), MixAlpha)).as("w_sum"))
    bySource.crossJoin(broadcast(tot))
      .withColumn("share", pow(col("n_docs").cast("double"), MixAlpha) / col("w_sum"))
      .withColumn("target",
        round(round(col("n_total") * lit(MixBudgetFrac), 0) * col("share"), 0)
          .cast("long"))
      .withColumn("thr", least(lit(1000000L),
        round(lit(1000000.0) * col("target") / col("n_docs"), 0).cast("long")))
      .select("source", "n_docs", "share", "target", "thr")
  }

  def q91TemperatureMix(t: T): DataFrame = {
    t.documents
      .join(broadcast(temperatureMixPlan(t.documents)), Seq("source"))
      .withColumn("kept",
        expr(s"${TextDedup.h60(91, "CAST(doc_id AS STRING)")} % 1000000") < col("thr"))
      .groupBy("source")
      .agg(
        first(col("n_docs")).as("n_docs"),
        round(first(col("share")), 6).as("share"),
        first(col("target")).as("target"),
        count_if(col("kept")).as("n_kept"))
      .smallSort("source")
  }

  /** q116 — LEAKAGE-SAFE train/eval split: the hold-out assignment a
    * training pipeline must make AFTER near-dup resolution, not before —
    * hashing raw doc_ids would scatter a near-duplicate family across
    * both sides and leak eval content into training (the canonical
    * failure mode Lee et al. 2022 §6 measure as inflated eval scores).
    * Each document inherits its dedup family's canonical id (q81's
    * MinHash pair manifest + connected components), and the split is a
    * deterministic hash of THAT id — so a family lands wholly in train
    * or wholly in eval, by construction. Same replayable md5-60bit hash
    * family as the q51 audit sample; 90/10 at the family grain.
    *
    * 100 TB shape: everything downstream of the (cached) pair manifest
    * is map-side — one hash per row, no new shuffle beyond q81's CC. */
  def q116LeakageSplit(spark: org.apache.spark.sql.SparkSession, t: T): DataFrame =
    TextDedup.q81DedupSurvivors(spark, t)
      .withColumn("h", expr(TextDedup.h60(116, "CAST(canonical_id AS STRING)")))
      .withColumn("split",
        when(pmod(col("h"), lit(100)) < 90, "train").otherwise("eval"))
      .select("doc_id", "canonical_id", "split")
      .orderBy("doc_id")

  /** q120 — BPE tokenizer-induction pair counting (Sennrich et al. 2016):
    * the statistics pass of a byte-pair-encoding merge round — count
    * every adjacent symbol pair over the corpus (symbols start as single
    * characters; the final character pairs with the '</w>' end-of-word
    * marker) and surface the top merge candidates. Output: the 30 most
    * frequent pairs with exact corpus counts — what round 1 of BPE
    * training would merge.
    *
    * 100 TB shape: the corpus NEVER reaches the pair stage — the stream
    * collapses to the (word → count) VOCABULARY first (one partially-
    * aggregated shuffle; web-scale corpora have ~10^7 distinct words vs
    * ~10^11 running words, a 10^4× reduction), and pair expansion +
    * counting runs over the vocabulary only, weighted by word frequency.
    * The full BPE training loop is this stage iterated with the argmax
    * merge applied to the vocabulary's symbol sequences — each round
    * touches vocab-sized data, so merge rounds cost the same tiny
    * aggregate, not a corpus rescan. All counts are exact integers; the
    * top-30 cut has a total (cnt, left, right) tie-break order. */
  def q120BpePairs(t: T): DataFrame = bpePairs(t.documents)

  /** The pair-count core over any (doc_id, text) frame — public for the
    * spec's hand corpus. */
  def bpePairs(documents: DataFrame, limit: Int = 30): DataFrame = {
    val vocab = documents
      .select(explode(TextDedup.tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("wc"))
    vocab
      .select(col("wc"), explode(expr(
        """transform(sequence(1, char_length(word)), i -> struct(
          |  substring(word, i, 1) AS lhs,
          |  CASE WHEN i = char_length(word) THEN '</w>'
          |       ELSE substring(word, i + 1, 1) END AS rhs))"""
          .stripMargin)).as("p"))
      .select(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"), col("wc"))
      .groupBy("lhs", "rhs")
      .agg(sum("wc").as("cnt"))
      .orderBy(col("cnt").desc, col("lhs"), col("rhs"))
      .limit(limit)
  }

  /** q152 — BPE MERGE TRAINING (Sennrich et al. 2016): the full
    * iterative loop q120's scaladoc promises — q120 is round 1's
    * statistics pass; THIS trains the merge table a tokenizer ships.
    * Per round: count adjacent symbol pairs over the (word → count)
    * vocabulary weighted by word frequency, pick the argmax pair
    * (exact-count, (cnt DESC, lhs, rhs) tie-break), apply the merge to
    * every vocabulary symbol sequence, repeat. Output: one row per
    * round — the merge pair, its corpus count at selection time, and
    * the corpus-wide weighted symbol total AFTER the merge (the
    * compression trace; monotonically decreasing by ≥ cnt per round).
    *
    * The merge APPLICATION is the subtle bit, made engine-portable by
    * construction: symbol sequences are encoded as '|'-wrapped strings
    * ('|c||h||</w>|'), and applying merge (lhs, rhs) is the plain
    * string replace of '|lhs||rhs|' with '|lhsrhs|' — both engines'
    * replace() scans left-to-right non-overlapping, which IS standard
    * BPE greedy application ("aaa" + merge(a,a) → (aa)(a); a freshly
    * merged symbol never re-merges in the same round). Tokens are
    * whitespace-split so '|' cannot occur inside a symbol.
    *
    * 100 TB shape (q120's, iterated): the corpus collapses to the
    * vocabulary ONCE (one partially-aggregated shuffle; ~10^7 distinct
    * words vs ~10^11 running words), and every training round touches
    * vocab-sized data only — the per-round state that crosses to the
    * driver is the ONE argmax row (the model-parameter contract q142's
    * centroids follow). The oracle unrolls the same rounds as
    * MATERIALIZED CTEs; all counts exact integers. */
  def q152BpeTrain(t: T): DataFrame = bpeTrain(t.documents, 8)

  /** The shared training loop: the checkpointed (word, wc, seq)
    * vocabulary, the learned merges, and each post-round state frame.
    * `word` rides along inert (column pruning drops it from the pair
    * counts) so the encode path (q155) can read per-word token counts
    * straight off the final state with no second vocabulary scan. */
  /** The one corpus pass both trainers share: word counts (optionally
    * per language) and the '|'-wrapped initial character sequence
    * '|c||h||a||r||</w>|'. Contract: the sequence encoding reserves '|'
    * as the symbol delimiter, and the merge-apply interpolates learned
    * symbols into a Spark SQL string literal where '\' is an escape
    * char — so words containing either byte are excluded from the
    * vocabulary ON BOTH ENGINES (the oracles apply the same filter).
    * Zero occurrences in the shipped corpora; the filter pins the
    * general operator's behavior. */
  private def bpeVocab0(documents: DataFrame, withLang: Boolean): DataFrame = {
    val keyCols = if (withLang) Seq(col("lang"), col("word")) else Seq(col("word"))
    // ONE codegen'd pass per document builds the (word → n_occ) histogram
    // (functions/TokenCounts.scala — the q76 device): the token-occurrence
    // stream never materializes and the per-occurrence hash-aggregate work
    // collapses into a per-document map build; sum(n_occ) over the
    // exploded maps is the identical (lang, word) count the previous
    // explode(tokens) + count produced. token_counts keeps split()'s
    // leading/trailing empty tokens that TextDedup.tokens filters — the
    // explicit word != '' restores the exact multiset (r18 optimization
    // round; CorpusSpec parity + family oracles pin it).
    val base =
      if (withLang)
        documents.select(col("lang"),
          explode(expr("token_counts(text)")).as(Seq("word", "n_occ")))
      else documents.select(
        explode(expr("token_counts(text)")).as(Seq("word", "n_occ")))
    base
      .where(col("word") =!= "" &&
        !col("word").contains("|") && !col("word").contains("\\"))
      .groupBy(keyCols: _*).agg(sum("n_occ").as("wc"))
      .select(keyCols ++ Seq(col("wc"), concat(lit("|"),
        expr("""array_join(transform(sequence(1, char_length(word)),
              |  i -> substring(word, i, 1)), '||')""".stripMargin),
        lit("||</w>|")).as("seq")): _*)
      .localCheckpoint(false)
  }

  /** The trainers run under [[PlanScope.staticPlan]] (each BPE round is
    * a tiny 2-exchange aggregate ending in a ≤|langs|-row collect; a
    * 100 TB deployment would keep AQE on for the corpus-sized vocab0
    * collapse) and their ROUNDS under [[PlanScope.modelReduce]]. The
    * model-reduce scope opens AFTER bpeVocab0: the vocabulary
    * checkpoint's own reduce is vocabulary-sized and fixes the rounds'
    * MAP parallelism, so it keeps the session fan-out (its plan is
    * frozen at its localCheckpoint, before the flip). */
  private def bpeTrainCore(documents: DataFrame, rounds: Int)
  : (Seq[(Int, String, String, Long)], Seq[DataFrame], DataFrame) =
    PlanScope.staticPlan(documents.sparkSession) {
    val vocab0 = bpeVocab0(documents, withLang = false)
    // vocabulary count observed on round 1's own job (vocabCoalesced);
    // the observed frame serves ROUND 1 ONLY — later rounds read the
    // plain checkpoint (re-executing a CollectMetrics node would re-fire
    // the one-shot Observation)
    val obs = new org.apache.spark.sql.Observation()
    var vocab = vocab0.observe(obs, count(lit(1)).as("n"))
    val merges = collection.mutable.Buffer.empty[(Int, String, String, Long)]
    val states = collection.mutable.Buffer.empty[DataFrame]
    PlanScope.modelReduce(documents.sparkSession) { for (r <- 1 to rounds) {
      // vocab-sized pair count; ONE argmax row reaches the driver. No
      // per-round checkpoint: every round's frame is a replace() chain
      // over the 31-row-to-10^7-row checkpointed VOCABULARY, so
      // re-evaluating the chain costs less than a materialization job —
      // the jobs, not the lineage, are the wall here (measured 1.7 →
      // 1.5 s dropping from 16 jobs to 9; the 8 argmax jobs that remain
      // are the algorithm's true sequential dependence)
      val top = vocab
        .select(col("wc"),
          expr("split(substring(seq, 2, length(seq) - 2), '\\\\|\\\\|')")
            .as("syms"))
        // a word whose sequence has collapsed to ONE symbol contributes
        // no pairs; without this guard sequence(0, size-2) = [0, -1]
        // and element_at(syms, 0) throws (the oracle's range(1, len)
        // is empty for the same case — this keeps the engines aligned)
        .where(size(col("syms")) >= 2)
        .select(col("wc"), explode(expr(
          """transform(sequence(0, size(syms) - 2), i -> struct(
            |  element_at(syms, i + 1) AS lhs,
            |  element_at(syms, i + 2) AS rhs))""".stripMargin)).as("p"))
        .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
        .agg(sum("wc").as("cnt"))
        .orderBy(col("cnt").desc, col("lhs"), col("rhs"))
        .limit(1).collect()(0)
      val (lhs, rhs, cnt) = (top.getString(0), top.getString(1), top.getLong(2))
      // round 1 materialized the checkpoint and its observe metric —
      // coalesce the remaining rounds' reads to the size-derived target
      // (over the PLAIN checkpoint, dropping the observe node)
      if (r == 1)
        vocab = vocabCoalesced(vocab0,
          obs.get.getOrElse("n", 0L).asInstanceOf[Long])
      vocab = vocab
        .select(col("word"), col("wc"),
          expr(s"replace(seq, '|${sqlEsc(lhs)}||${sqlEsc(rhs)}|'," +
            s" '|${sqlEsc(lhs)}${sqlEsc(rhs)}|')").as("seq"))
      merges += ((r, lhs, rhs, cnt))
      states += vocab.select(lit(r).as("round"), col("wc"), col("seq"))
    } }
    (merges.toSeq, states.toSeq, vocab)
  }

  /** Scale-adaptive round parallelism (r19, the q152/q155
    * re-adjudication): the static-planned vocabulary checkpoint keeps
    * shuffle.partitions partitions regardless of vocabulary size — right
    * for the lexicon corpora (the CPU-dense pair explode wants every
    * core: an AQE-coalesced 2-partition checkpoint measured the rounds
    * 2× slower, VocabProbe), pure scheduling overhead for a tiny
    * vocabulary (q152's 31 words paid 8 rounds × 32 near-empty tasks).
    * The vocabulary count rides round 1's own argmax job as an
    * `observe` metric — zero extra jobs (a separate count job measured
    * ~0.2 s on the lexicon trainers) — and rounds 2+ read the
    * checkpoint through a narrow coalesce (no shuffle) capping the
    * round task count at ~1 task per 1024 words, a round's work being
    * microseconds per word. Partition count derives from MEASURED size
    * (guide §2: scale-adaptive, not a local constant): any real corpus
    * clears the cap and keeps full parallelism. */
  private def vocabCoalesced(vocab: DataFrame, n: Long): DataFrame = {
    val shuffleN =
      vocab.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val target = math.max(1L, math.min(shuffleN.toLong, n / 1024L)).toInt
    if (target < shuffleN) vocab.coalesce(target) else vocab
  }

  def bpeTrain(documents: DataFrame, rounds: Int): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val (merges, states, _) = bpeTrainCore(documents, rounds)
    // ONE job for all eight compression-trace points: the tagged
    // post-round states union and aggregate together
    val symbolsByRound = states.reduce(_ unionByName _)
      .groupBy("round")
      .agg(sum(col("wc") *
        (length(col("seq")) - length(expr("replace(seq, '||', '|')")) + 1))
        .as("symbols_after"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    merges
      .map { case (r, lhs, rhs, cnt) =>
        (r, lhs, rhs, lhs + rhs, cnt, symbolsByRound(r)) }
      .toDF("round", "lhs", "rhs", "merged", "cnt", "symbols_after")
      .orderBy("round")
  }

  /** FUSED PER-LANGUAGE BPE TRAINING (q180): one job trains one merge
    * table per language — the q142-family tagged-union trick (one
    * aggregate advances every model per round) applied to tokenizers.
    * Per round: ONE (lang, lhs, rhs) pair-count aggregate over the
    * keyed vocabulary, a per-language argmax (row_number window on a
    * pair-count-sized frame, ≤ |langs| rows crossing to the driver —
    * still the model-parameter contract), and the merges applied in a
    * single literal CASE over `lang` so the whole apply stays one
    * codegen'd projection. A language with no pairs left in a round
    * falls through the CASE unchanged and simply stops learning.
    *
    * Per-language training is INDEPENDENT by construction — the keyed
    * run restricted to a language is bit-identical to [[bpeTrain]] on
    * that language's documents alone (CorpusSpec pins the equivalence)
    * — which is exactly why fusing is free: at 100 TB this trains all
    * per-domain tokenizers in one corpus collapse + 8 vocab-sized
    * rounds instead of |langs| separate corpus passes. */
  def bpeTrainByLang(documents: DataFrame, rounds: Int): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val (merges, states, _) = bpeTrainByLangCore(documents, rounds)
    // ONE job for every (round, lang) compression-trace point
    val symbolsAfter = states.reduce(_ unionByName _)
      .groupBy("round", "lang")
      .agg(sum(col("wc") *
        (length(col("seq")) - length(expr("replace(seq, '||', '|')")) + 1))
        .as("symbols_after"))
      .collect()
      .map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
    merges
      .map { case (r, lg, lhs, rhs, cnt) =>
        (lg, r, lhs, rhs, lhs + rhs, cnt, symbolsAfter((r, lg))) }
      .toDF("lang", "round", "lhs", "rhs", "merged", "cnt", "symbols_after")
      .orderBy("lang", "round")
  }

  private def bpeTrainByLangCore(documents: DataFrame, rounds: Int)
  : (Seq[(Int, String, String, String, Long)], Seq[DataFrame], DataFrame) =
    PlanScope.staticPlan(documents.sparkSession) {
    val vocab0 = bpeVocab0(documents, withLang = true)
    // round-1-only observe for the size-adaptive coalesce — see
    // bpeTrainCore
    val obs = new org.apache.spark.sql.Observation()
    var vocab = vocab0.observe(obs, count(lit(1)).as("n"))
    val merges =
      collection.mutable.Buffer.empty[(Int, String, String, String, Long)]
    val states = collection.mutable.Buffer.empty[DataFrame]
    PlanScope.modelReduce(documents.sparkSession) { for (r <- 1 to rounds) {
      val tops = vocab
        .select(col("lang"), col("wc"),
          expr("split(substring(seq, 2, length(seq) - 2), '\\\\|\\\\|')")
            .as("syms"))
        .where(size(col("syms")) >= 2) // one-symbol words contribute no pairs
        .select(col("lang"), col("wc"), explode(expr(
          """transform(sequence(0, size(syms) - 2), i -> struct(
            |  element_at(syms, i + 1) AS lhs,
            |  element_at(syms, i + 2) AS rhs))""".stripMargin)).as("p"))
        .groupBy(col("lang"), col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
        .agg(sum("wc").as("cnt"))
        // per-language argmax as a SECOND aggregate, not a window
        // (r18 optimization round): min(struct(-cnt, lhs, rhs)) realizes
        // the exact (cnt DESC, lhs, rhs) tie-break — struct ordering is
        // field-lexicographic — and partial-aggregates map-side, so ≤
        // |langs| rows cross the exchange instead of the whole
        // pair-count frame flowing through a per-language sort. Same
        // argmax row, cheaper plan (no sort, no full-frame window).
        .groupBy("lang")
        .agg(min(struct((-col("cnt")).as("nc"), col("lhs"),
          col("rhs"))).as("m"))
        .select(col("lang"), col("m.lhs").as("lhs"),
          col("m.rhs").as("rhs"), (-col("m.nc")).as("cnt"))
        .collect() // ≤ |langs| rows — per-language model parameters
      // round 1 materialized the checkpoint and its observe metric —
      // the remaining reads go through the size-derived coalesce of the
      // PLAIN checkpoint (dropping the observe node)
      if (r == 1)
        vocab = vocabCoalesced(vocab0,
          obs.get.getOrElse("n", 0L).asInstanceOf[Long])
      if (tops.nonEmpty) { // every language exhausted -> nothing to apply
        val caseExpr = "CASE " + tops.map { t =>
          val (lg, lhs, rhs) =
            (sqlEsc(t.getString(0)), sqlEsc(t.getString(1)), sqlEsc(t.getString(2)))
          s"WHEN lang = '$lg' THEN replace(seq, '|$lhs||$rhs|', '|$lhs$rhs|')"
        }.mkString(" ") + " ELSE seq END"
        vocab = vocab.select(col("lang"), col("word"), col("wc"),
          expr(caseExpr).as("seq"))
          // UNLIKE q152's single-replace chain (linear lineage, cheaper
          // re-evaluated than materialized — its scaladoc measures it),
          // the keyed CASE references `seq` once per language branch, so
          // unchecked lineage grows |langs|^rounds expression nodes
          // (5^8 ≈ 4·10^5 here — Catalyst planning, not execution, was
          // the wall). The lazy per-round checkpoint caps the tree at
          // one round deep; the materialization piggybacks on the jobs
          // the next argmax/trace run anyway. (r19 re-tested the
          // checkpoint-free alternative — ONE replace with lang-keyed
          // CASE pattern/replacement, linear lineage — and measured it
          // SLOWER on an interleaved A/B: q182 2.53 vs 2.32 med,
          // q180 3.53 vs 2.93 — re-evaluating the growing chain per
          // round costs more than the 8 checkpoint jobs it saves on the
          // ~200k-row keyed vocabulary. Kept as r18 shipped it.)
          .localCheckpoint(false)
      }
      tops.foreach(t => merges +=
        ((r, t.getString(0), t.getString(1), t.getString(2), t.getLong(3))))
      states += vocab.select(lit(r).as("round"), col("lang"), col("wc"),
        col("seq"))
    } }
    (merges.toSeq, states.toSeq, vocab)
  }

  /** PER-LANGUAGE BPE ENCODE (q181) — the train→apply pair for
    * [[bpeTrainByLang]], mirroring q155 for q152: the keyed final
    * training state already carries every language's merges applied in
    * learned order, so per-(lang, word) token counts come straight off
    * it and the corpus pass is one explode + broadcast-dictionary join
    * ON (lang, word) + partially-aggregated sums. A document tokenizes
    * under ITS OWN language's tokenizer — the serving contract of a
    * per-domain tokenizer fleet. Output: per-(lang, source) token
    * accounting (documents, words, BPE tokens, tokens-per-word in
    * exact per-mille).
    *
    * Dropped-word contract (inherited from [[bpeVocab0]]): words
    * containing '|' or '\' are excluded from the trained vocabulary on
    * both engines, so the inner dictionary join silently drops them
    * from n_words/n_tokens here too — zero occurrences in the shipped
    * corpora, but on arbitrary input the per-source totals undercount
    * by exactly those words. [[bpeEncodeFromStore]] is the general
    * encoder: it counts them explicitly (n_skipped_words) and encodes
    * OOV words by merge application instead of dropping them. */
  def bpeEncodeByLang(documents: DataFrame, rounds: Int): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val (_, _, finalVocab) = bpeTrainByLangCore(documents, rounds)
    val vocabTokens = finalVocab
      .select(col("lang"), col("word"),
        (length(col("seq")) - length(expr("replace(seq, '||', '|')")) + 1)
          .as("n_tokens"))
    // per-document histogram instead of the occurrence explode (the
    // bpeVocab0/q76 device, r18 optimization round): the dictionary
    // join probes per-doc DISTINCT words and the accounting re-weights
    // by n_occ — sum(n_occ) ≡ the occurrence count, sum(n_tokens·n_occ)
    // ≡ the per-occurrence token sum. Empty edge tokens can't match the
    // dictionary (no empty word trains), so the inner join drops them
    // exactly like the previous tokenizer's filter did.
    documents
      .select(col("doc_id"), col("lang"), col("source"),
        explode(expr("token_counts(text)")).as(Seq("word", "n_occ")))
      .join(broadcast(vocabTokens), Seq("lang", "word"))
      .groupBy("lang", "source")
      .agg(countDistinct("doc_id").as("n_docs"),
        sum("n_occ").as("n_words"),
        sum(col("n_tokens") * col("n_occ")).as("n_tokens"))
      .withColumn("tokens_per_word_pm",
        expr("(n_tokens * 1000L) DIV n_words"))
      .orderBy("lang", "source")
  }

  /** Escapes a learned symbol for interpolation into a Spark SQL string
    * literal: backslash first (Spark's parser treats '\' as an escape
    * char inside literals; DuckDB does not — unescaped it would diverge),
    * then the standard doubled single-quote. The vocabulary filter above
    * already excludes '\'-bearing words, so this is defense in depth. */
  private def sqlEsc(s: String): String =
    s.replace("\\", "\\\\").replace("'", "''")

  // ── tokenizer-artifact lifecycle (q182/q183): train once, store, ──
  // ── encode every later batch against the stored model            ──

  /** The TOKENIZER STORE: train [[bpeTrainByLang]]'s per-language merge
    * tables on the base corpus ONCE and hand back the two frames a
    * tokenizer fleet persists — the merge table (the model: ≤
    * |langs|·rounds driver rows, already collected by the training
    * loop's model-parameter contract) and the trained vocabulary state
    * (the serving DICTIONARY: per-(lang, word) symbol sequences with
    * every merge applied in learned order — the q143/q150 stored-index
    * discipline applied to tokenizers; the checkpointed frame IS the
    * artifact, standing in for the parquet table a deployment writes).
    * Every later encode job reads these; NOTHING here rescans a corpus
    * at encode time. */
  def bpeStore(base: DataFrame, rounds: Int)
  : (Seq[(Int, String, String, String, Long)], DataFrame) = {
    val (merges, _, finalVocab) = bpeTrainByLangCore(base, rounds)
    (merges, finalVocab)
  }

  /** The initial '|c||h||</w>|' character sequence of `word` as a SQL
    * fragment — the SAME encoding [[bpeVocab0]] gives training words,
    * so stored merges apply to unseen words identically. */
  private def charSeqSqlFor(ref: String): String =
    s"concat('|', array_join(transform(sequence(1, char_length($ref)), " +
      s"i -> substring($ref, i, 1)), '||'), '||</w>|')"
  private val charSeqSql: String = charSeqSqlFor("word")

  /** The stored merges applied to `word` as ONE literal expression:
    * per language the learned replaces compose in LEARNED ORDER (the
    * order is the algorithm), and one top-level CASE on `lang` picks
    * the language's chain — linear expression size (|langs| branches ×
    * `rounds` nested replaces), unlike the per-round CASE the trainer
    * uses (whose lineage the trainer must checkpoint). A language with
    * no stored merges falls through to the raw character sequence. */
  private def applyStoreSqlFor(
      merges: Seq[(Int, String, String, String, Long)],
      ref: String): String = {
    val byLang = merges.groupBy(_._2).toSeq.sortBy(_._1)
    if (byLang.isEmpty) charSeqSqlFor(ref)
    else "CASE " + byLang.map { case (lg, ms) =>
      val chain = ms.sortBy(_._1).foldLeft(charSeqSqlFor(ref)) {
        case (acc, m) =>
          val (lhs, rhs) = (sqlEsc(m._3), sqlEsc(m._4))
          s"replace($acc, '|$lhs||$rhs|', '|$lhs$rhs|')"
      }
      s"WHEN lang = '${sqlEsc(lg)}' THEN $chain"
    }.mkString(" ") + s" ELSE ${charSeqSqlFor(ref)} END"
  }
  private def applyStoreSql(
      merges: Seq[(Int, String, String, String, Long)]): String =
    applyStoreSqlFor(merges, "word")

  /** Words the seq encoding cannot carry (the [[bpeVocab0]] contract:
    * '|' is the symbol delimiter, '\' a Spark literal escape). The
    * general encoder COUNTS these instead of silently dropping them. */
  private val seqUnencodable: Column =
    col("word").contains("|") || col("word").contains("\\")

  /** Per-word ENCODE TABLE against the stored tokenizer: one row per
    * distinct (lang, word) of the batch with the dictionary lookup
    * (`dict_tokens` — the stored vocabulary state, NULL when the word
    * was never seen in training), the merge-application fallback
    * (`chain_tokens` — the stored merges applied to the raw character
    * sequence; BPE is deterministic, so for seen words this EQUALS the
    * dictionary value — CorpusSpec pins the agreement), the served
    * count (`n_tokens` = dictionary-first, chain-fallback: the
    * production encoder's cache discipline) and the OOV flag. Public
    * so the spec audits the dict/chain agreement row by row. */
  def bpeEncodeWordTable(merges: Seq[(Int, String, String, String, Long)],
                         dict: DataFrame, batchVocab: DataFrame): DataFrame =
    batchVocab
      .withColumn("enc_seq", expr(applyStoreSql(merges)))
      .withColumn("chain_tokens",
        length(col("enc_seq")) - length(expr("replace(enc_seq, '||', '|')")) + 1)
      // no broadcast hint: both sides are vocabulary-class frames — AQE
      // broadcasts the smaller when it fits (the q76 LM discipline)
      .join(dict.select(col("lang"), col("word"),
        (length(col("seq")) - length(expr("replace(seq, '||', '|')")) + 1)
          .as("dict_tokens")), Seq("lang", "word"), "left")
      .select(col("lang"), col("word"), col("dict_tokens"), col("chain_tokens"),
        coalesce(col("dict_tokens"), col("chain_tokens")).as("n_tokens"),
        col("dict_tokens").isNull.as("is_oov"))

  /** ENCODE a batch against an already-built store — the serving leg a
    * tokenizer fleet runs per crawl batch: ONE batch-sized pass
    * (explode + per-word broadcast join + partial aggregation) plus a
    * batch-VOCABULARY-sized merge application for OOV words. No
    * training anywhere. Output: per-(lang, source) token accounting —
    * documents, encodable words, OOV word occurrences (words absent
    * from the stored vocabulary, tokenized by merge application),
    * explicitly-counted unencodable words ('|'/'\' — the
    * [[bpeEncodeByLang]] dropped-word contract made visible), BPE
    * tokens, and exact per-mille tokens-per-word. A (lang, source)
    * cell ALL of whose words are unencodable has nothing to account
    * and emits no row.
    *
    * 100 TB shape: the store is model state (vocabulary-sized by
    * q120's 10^4× word-collapse argument); the batch pass is
    * partially-aggregated scan work; encode cost tracks the BATCH, not
    * the corpus the model was trained on — TokStoreProbe measures the
    * split (SCALE.md). */
  def bpeEncodeAgainstStore(merges: Seq[(Int, String, String, String, Long)],
                            dict: DataFrame, batch: DataFrame): DataFrame = {
    // per-document histogram, not the occurrence explode (the bpeVocab0
    // device, r18 optimization round): the dictionary join and both
    // censuses re-weight by n_occ — identical accounting, per-doc
    // DISTINCT probe rows. The word != '' filter drops split()'s empty
    // edge tokens the previous tokenizer never emitted.
    val words = batch
      .select(col("doc_id"), col("lang"), col("source"),
        explode(expr("token_counts(text)")).as(Seq("word", "n_occ")))
      .where(col("word") =!= "")
      .localCheckpoint(false) // feeds the skipped census AND the accounting
    val skipped = words.where(seqUnencodable)
      .groupBy("lang", "source").agg(sum("n_occ").as("n_skipped_words"))
    val clean = words.where(!seqUnencodable)
    val enc = bpeEncodeWordTable(merges, dict,
      clean.select("lang", "word").distinct())
    clean
      // the served word table is vocabulary-sized model+dictionary state
      // (the q155/q181 broadcast adjudication)
      .join(broadcast(enc.select("lang", "word", "n_tokens", "is_oov")),
        Seq("lang", "word"))
      .groupBy("lang", "source")
      .agg(countDistinct("doc_id").as("n_docs"),
        sum("n_occ").as("n_words"),
        sum(when(col("is_oov"), col("n_occ")).otherwise(0L)).as("n_oov_words"),
        sum(col("n_tokens") * col("n_occ")).as("n_tokens"))
      .join(skipped, Seq("lang", "source"), "left")
      .select(col("lang"), col("source"), col("n_docs"), col("n_words"),
        col("n_oov_words"),
        coalesce(col("n_skipped_words"), lit(0L)).as("n_skipped_words"),
        col("n_tokens"),
        expr("(n_tokens * 1000L) DIV n_words").as("tokens_per_word_pm"))
      .orderBy("lang", "source")
  }

  /** Per-DOCUMENT token counts against a stored tokenizer — q183's
    * word table aggregated to the document grain, the frame a
    * token-budgeted recipe stage consumes ([[mixPackOver]]/q186).
    * Unencodable ('|'/'\') words contribute nothing; a document with
    * NO encodable words is dropped entirely (inner join — it has no
    * token mass to budget or pack, and emitting 0 would break the
    * packer's n_tokens ≥ 1 contract). One corpus pass (explode +
    * broadcast word table + partial-aggregated doc sums). */
  def bpeDocTokens(merges: Seq[(Int, String, String, String, Long)],
                   dict: DataFrame, docs: DataFrame): DataFrame = {
    // per-document histogram (the bpeVocab0 device, r18 optimization
    // round): n_tokens·n_occ summed per doc ≡ the per-occurrence sum
    val clean = docs
      .select(col("doc_id"), col("lang"), col("source"),
        explode(expr("token_counts(text)")).as(Seq("word", "n_occ")))
      .where(col("word") =!= "" && !seqUnencodable)
      .localCheckpoint(false) // feeds the vocab distinct AND the doc sums
    val enc = bpeEncodeWordTable(merges, dict,
      clean.select("lang", "word").distinct())
    clean
      .join(broadcast(enc.select("lang", "word", "n_tokens")),
        Seq("lang", "word"))
      .groupBy("doc_id", "lang", "source")
      .agg(sum(col("n_tokens") * col("n_occ")).as("n_tokens"))
      .select("doc_id", "lang", "source", "n_tokens")
  }

  /** STATELESS ingestion-time token METER against a stored tokenizer
    * (q188): per-document word/skipped/BPE-token counts computed in
    * ONE map-side projection — the stored merges ARE the model,
    * compiled into a literal replace-chain expression applied per word
    * occurrence inside higher-order lambdas (no explode, no join, no
    * aggregation, no state store). This is the streaming-serving form
    * of [[bpeEncodeAgainstStore]]: a batch encode amortizes repeated
    * words through the vocabulary collapse + broadcast dictionary; a
    * stream meters rows as they arrive, where the honest constant-state
    * shape is per-occurrence merge application (chain application
    * equals the dictionary lookup for every trained word — BPE is
    * deterministic; CorpusSpec pins the agreement). Usable unchanged
    * on a batch frame or as a streaming transform (q188 runs it under
    * AvailableNow through RoundTrip).
    *
    * 100 TB shape: zero shuffles, zero state — model state is k·|langs|
    * merge literals by the q120 contract; cost is per-row CPU, the one
    * currency a 1000-executor stream scales linearly in. */
  def bpeTokenMeter(merges: Seq[(Int, String, String, String, Long)],
                    docs: DataFrame): DataFrame = {
    val unenc = "contains(e.key, '|') OR contains(e.key, chr(92))"
    val chain = applyStoreSqlFor(merges, "e.key")
    // per-document HISTOGRAM, not the token list (the bpeVocab0 device,
    // r18 optimization round): the merge chain — the meter's dominant
    // per-row CPU, |langs|·rounds nested replaces — now evaluates once
    // per DISTINCT word of the document and re-weights by the word's
    // count; all three censuses re-weight likewise (Σ e.value ≡ the
    // occurrence counts). Still one stateless map-side projection —
    // zero shuffles, zero state — usable unchanged as a streaming
    // transform. token_counts keeps split()'s empty edge tokens the
    // previous tokenizer filtered; the e.key <> '' filter restores the
    // exact censuses (TokenMeterSpec + the q188 oracle pin them).
    docs
      .select(col("doc_id"), col("lang"), col("source"),
        expr("filter(map_entries(token_counts(text)), e -> e.key <> '')")
          .as("ents"))
      .select(col("doc_id"), col("lang"), col("source"),
        expr("aggregate(ents, CAST(0 AS BIGINT), (acc, e) -> acc + e.value)")
          .as("n_all"),
        expr(s"filter(ents, e -> NOT ($unenc))").as("cents"))
      .select(col("doc_id"), col("lang"), col("source"), col("n_all"),
        expr("aggregate(cents, CAST(0 AS BIGINT), (acc, e) -> acc + e.value)")
          .as("n_words"),
        // the chain rewrites each distinct word ONCE (struct transform),
        // the count reads the rewritten sequence — no double evaluation
        expr(s"aggregate(transform(cents, e -> struct($chain AS s, " +
          "e.value AS v)), CAST(0 AS BIGINT), (acc, x) -> acc + " +
          "(length(x.s) - length(replace(x.s, '||', '|')) + 1) * x.v)")
          .as("n_tokens"))
      .select(col("doc_id"), col("lang"), col("source"),
        col("n_words"),
        (col("n_all") - col("n_words")).as("n_skipped_words"),
        col("n_tokens"))
  }

  /** ENCODE-FROM-STORE (q183): the self-contained declared pair of the
    * store build — trains the store on `base` (exactly [[bpeStore]],
    * so the q182 artifact and this query's internal model are the same
    * frames), then runs the pure serving pass over `batch`. The
    * train→apply seam q181 lacks: q181 re-trains inside the encode
    * query; here the batch pass NEVER touches the base corpus — at
    * deployment the store build runs once and every later batch pays
    * only [[bpeEncodeAgainstStore]]. */
  def bpeEncodeFromStore(base: DataFrame, batch: DataFrame,
                         rounds: Int): DataFrame = {
    val (merges, dict) = bpeStore(base, rounds)
    bpeEncodeAgainstStore(merges, dict, batch)
  }

  /** q155 — BPE ENCODE: apply q152's trained merge table to the corpus
    * — the train→apply pair tokenization actually is (the q142→q143
    * pattern for tokenizers: q152 learns the model, THIS is the serving
    * pass every document takes on its way into a training shard).
    * Training reruns here (same 8 rounds, same argmax trace — the merge
    * table is the 8-row driver state), then encoding is pure map-side
    * work: the vocabulary's symbol sequences already carry all eight
    * merges applied in LEARNED ORDER (the order is the algorithm —
    * applying merges in any other order tokenizes differently), so
    * per-word token counts come straight off the final sequences and
    * per-document totals are one explode + broadcast-vocabulary join +
    * sum. Output: per-source token statistics — documents, words, BPE
    * tokens, tokens-per-word in exact per-mille — the table a corpus
    * recipe's token-budget accounting is built from (q77's packer and
    * q75's mixture targets consume exactly these counts at scale).
    *
    * 100 TB shape: the vocabulary (with merges applied) is
    * model-plus-dictionary state — broadcast-sized by the same 10^4×
    * word-collapse argument as q120 — and the corpus-sized pass is one
    * explode + equi-join + partial-aggregated sum. */
  def q155BpeEncode(t: T): DataFrame = bpeEncode(t.documents, 8)

  def bpeEncode(documents: DataFrame, rounds: Int): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    // the final training state already carries every merge applied in
    // learned order — per-word token counts come straight off it, no
    // second vocabulary scan and no rebuilt replace chain
    val (_, _, finalVocab) = bpeTrainCore(documents, rounds)
    val vocabTokens = finalVocab
      .select(col("word"),
        (length(col("seq")) - length(expr("replace(seq, '||', '|')")) + 1)
          .as("n_tokens"))
    // per-document histogram probe (the bpeVocab0 device, r18
    // optimization round) — accounting re-weighted by n_occ; empty edge
    // tokens can't match the dictionary, like bpeEncodeByLang's
    documents
      .select(col("doc_id"), col("source"),
        explode(expr("token_counts(text)")).as(Seq("word", "n_occ")))
      .join(broadcast(vocabTokens), Seq("word"))
      .groupBy("source")
      .agg(countDistinct("doc_id").as("n_docs"),
        sum("n_occ").as("n_words"),
        sum(col("n_tokens") * col("n_occ")).as("n_tokens"))
      .withColumn("tokens_per_word_pm",
        expr("(n_tokens * 1000L) DIV n_words"))
      .orderBy("source")
  }


  // ── multilingual mixture + packing (q184): per-language token ──
  // ── budgets realized doc-by-doc, survivors packed per language ──

  /** q184's core — the MULTILINGUAL corpus recipe's last composition:
    * token-denominated temperature mixture per (lang, source) against
    * per-LANGUAGE budgets, realized by a replayable cumulative cutoff,
    * with the survivors sequence-packed per language (q77 keyed). Two
    * temperature levels, both q91's arithmetic in token currency (the
    * budgets consume the q181/q183 accounting's token-mass grain
    * rather than doc counts): the global budget (MixBudgetFrac of the
    * corpus token mass) splits across languages ∝ mass^α — α = 0.5
    * UPSAMPLES low-resource languages relative to raw share, the
    * multilingual-recipe trick — and each language's budget splits
    * across its sources ∝ mass^α again. Realization is NOT q91's
    * per-doc hash threshold (in-expectation adherence): documents lay
    * out in the replayable md5-hash order and keep while the tokens
    * BEFORE them are under the cell target — the q83 cumulative
    * device — so each cell's kept token mass lands within ONE document
    * of its target whenever supply suffices (the spec pins it), and an
    * under-supplied cell keeps everything it has. Survivors pack per
    * language through [[packOffsets]] verbatim, in doc_id order (the
    * selection order is fairness's; the layout order is locality's —
    * both replayable). Output: the per-(lang, source) audit log —
    * masses, budgets, targets, realized kept docs/tokens, and the
    * packing footprint (sequence count + highest sequence index).
    *
    * 100 TB shape: one corpus collapse to (doc, lang, source,
    * n_tokens, h) feeding a band-sized plan aggregate (window sums
    * over ≤ |langs|·|sources| rows — no 1-row literal joins), the
    * q83 two-phase bounded-window cumulative sum keyed by cell, and
    * q77's two-phase packer. Every window partition is bounded; the
    * plan side is band-sized throughout. Token currency here is the
    * packer's native whitespace count (q77/q83's); swapping in BPE
    * tokens is one extra broadcast join against the q182 store. */
  def mixPack(docs: DataFrame, seqTokens: Int, chunkDocs: Int,
              seed: Int): DataFrame =
    mixPackOver(
      docs.select(col("doc_id"), col("lang"), col("source"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens")),
      seqTokens, chunkDocs, seed)

  /** The two-level α-temperature budget plan over a (doc_id, lang,
    * source, n_tokens, h) frame — one row per (lang, source) cell with
    * masses, per-language budgets and per-cell targets. Shared by
    * [[mixPackOver]] (q184/q186) and [[tokenPipeline]] (q187). The
    * double sums ride ORDERED whole-frame windows so both engines
    * accumulate in the same (lang) order — FP addition is
    * order-sensitive, and an unordered 1-row aggregate would leave the
    * order to the planner. */
  def mixPlan(d: DataFrame): DataFrame = {
    val wAll = Window.orderBy("lang")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wLang = Window.partitionBy("lang").orderBy("source")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val mls = d.groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("mass_tokens"))
    val ml = mls.groupBy("lang").agg(sum("mass_tokens").as("lang_mass"))
      .withColumn("total_mass", sum("lang_mass").over(wAll))
      .withColumn("w_l", pow(col("lang_mass").cast("double"), MixAlpha))
      .withColumn("w_sum", sum("w_l").over(wAll))
      .withColumn("budget_tokens",
        round(round(col("total_mass") * lit(MixBudgetFrac), 0) *
          (col("w_l") / col("w_sum")), 0).cast("long"))
      .select("lang", "budget_tokens")
    mls
      .withColumn("w_s", pow(col("mass_tokens").cast("double"), MixAlpha))
      .withColumn("ws_sum", sum("w_s").over(wLang))
      .join(ml, Seq("lang")) // band-sized ⋈ ≤|langs| rows
      .withColumn("target_tokens",
        round(col("budget_tokens") * (col("w_s") / col("ws_sum")), 0)
          .cast("long"))
      .select("lang", "source", "n_docs", "mass_tokens", "budget_tokens",
        "target_tokens")
  }

  /** q83's two-phase cumulative device over a (doc_id, lang, source,
    * n_tokens, h) frame: tokens BEFORE each document in (h, doc_id)
    * order within its (lang, source) cell — bounded within-bucket
    * windows + a ≤4096-row bucket-offset prefix per cell; the oracle
    * replays the one-level window (same values). Shared by
    * [[mixPackOver]] and [[tokenPipeline]]. */
  def mixCumBefore(d: DataFrame): DataFrame = {
    val bucketed = d.withColumn("bucket",
      expr(s"h div ${1L << ShardBucketShift}"))
    val wB = Window.partitionBy("lang", "source", "bucket")
      .orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wS = Window.partitionBy("lang", "source").orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    // FUSED (r19, guide §2.4): the within-bucket prefix and the
    // per-bucket total are windows over the SAME (lang, source, bucket)
    // partitioning, so they share ONE corpus-sized exchange; the
    // bucket-offset prefix then aggregates the already-partitioned
    // window output (distribution satisfied — no second corpus
    // exchange) and only the ≤4096-rows-per-cell bucket summary is
    // re-shuffled for the cross-bucket prefix. The r18 shape read the
    // bucketed frame twice — two corpus-sized exchanges of the same
    // rows. Values identical (same sums, same join).
    val wTot = Window.partitionBy("lang", "source", "bucket")
    val wp = bucketed
      .withColumn("within_prev", coalesce(sum("n_tokens").over(wB), lit(0L)))
      .withColumn("bucket_tokens", sum("n_tokens").over(wTot))
    val bOffsets = wp.groupBy("lang", "source", "bucket")
      .agg(max("bucket_tokens").as("bucket_tokens"))
      .withColumn("bucket_offset",
        coalesce(sum("bucket_tokens").over(wS), lit(0L)))
      .select("lang", "source", "bucket", "bucket_offset")
    wp.join(bOffsets, Seq("lang", "source", "bucket"))
      .withColumn("cum_before", col("bucket_offset") + col("within_prev"))
      .drop("bucket_tokens")
  }

  /** [[mixPack]] over a PRE-COMPUTED per-document token frame (doc_id,
    * lang, source, n_tokens) — the currency seam: q184 passes the
    * packer's native whitespace counts; q186 passes BPE tokens from
    * the stored tokenizer ([[bpeDocTokens]] — the budgets then consume
    * exactly the accounting q181/q183 report). Contract: n_tokens ≥ 1
    * per row (a 0-token doc would make the packer's last_seq
    * expression go negative, where the engines' integer divisions
    * disagree — truncate vs floor; [[bpeDocTokens]] upholds it by
    * dropping docs with nothing encodable). */
  def mixPackOver(docTokens: DataFrame, seqTokens: Int, chunkDocs: Int,
                  seed: Int): DataFrame = {
    val d = docTokens
      .withColumn("h", expr(TextDedup.h60(seed, "CAST(doc_id AS STRING)")))
      .localCheckpoint(false) // feeds the plan aggregate AND the keep pass
    // the plan frame is referenced TWICE (the broadcast cutoff and the
    // final audit join) — band-sized by construction (one row per
    // (lang, source) cell), so materializing it once is free (r19)
    val plan = mixPlan(d).localCheckpoint(false)
    val kept = mixCumBefore(d)
      // the plan is band-sized BY CONSTRUCTION (one row per (lang,
      // source) cell) — broadcast is safe at any corpus scale
      .join(broadcast(plan.select("lang", "source", "target_tokens")),
        Seq("lang", "source"))
      .where(col("cum_before") < col("target_tokens"))
      .select("doc_id", "lang", "source", "n_tokens")
      // kept is referenced TWICE (the packer and the audit join) and each
      // reference re-ran the whole cumulative-cutoff subtree — window
      // exchange, bucket offsets and all (r19, the plan checkpoint's
      // discipline one level up; the q184 executed plan showed the
      // mixCumBefore DAG duplicated). Survivor-sized, one narrow
      // materialization.
      .localCheckpoint(false)
    val packed = packOffsets(kept.select("doc_id", "lang", "n_tokens"),
      seqTokens, chunkDocs)
    val audit = kept
      .join(packed.select("doc_id", "n_seqs", "last_seq"), Seq("doc_id"))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_kept"), sum("n_tokens").as("kept_tokens"),
        sum("n_seqs").as("n_seqs"), max("last_seq").as("max_last_seq"))
    plan.join(audit, Seq("lang", "source"), "left")
      .select(col("lang"), col("source"), col("n_docs"), col("mass_tokens"),
        col("budget_tokens"), col("target_tokens"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"),
        coalesce(col("n_seqs"), lit(0L)).as("n_seqs"),
        coalesce(col("max_last_seq"), lit(-1L)).as("max_last_seq"))
      .orderBy("lang", "source")
  }

  /** q133 — the END-TO-END corpus build: the pipeline a data recipe
    * actually runs, composed from this engine's own stages in their
    * deployment order — exact dedup (q24's content-hash canonicalizer),
    * Gopher quality battery (q121's rules via `TextAnalysis.gopherRules`,
    * minus the stopword rule: the synthetic vocabulary contains at most
    * one of the eight Gopher stopwords, so r_stop rejects EVERY document
    * and the composed pipeline would be a zero-survivor degenerate —
    * the word-count rule is the discriminating one here, passing ~55%%),
    * eval-set decontamination (q131's bloom pre-filter RUN FOR REAL in
    * front of q79's exact 7-gram join — see the stage comment),
    * stratified mixture sampling (q75's replayable ppm-hash
    * device, seed 133), and hash shard assignment for the survivors.
    * One row per TRAIN doc with every stage's verdict pinned — the
    * audit log a corpus build ships with its output, so attrition at
    * each stage is attributable per document, not just in aggregate.
    *
    * 100 TB shape = the union of its stages' shapes, which is the
    * point: one content-hash shuffle (dedup window), map-side quality
    * flags, one gram equi-join against the eval side (never doc×doc),
    * map-side mixture/shard hashes, and doc_id-keyed joins to assemble
    * the log. No stage introduces a plan shape the standalone queries
    * have not already audited. */
  def q133CorpusPipeline(t: T): DataFrame = corpusPipeline(t.documents)

  /** The 7-gram eval-set decontamination stage shared by
    * [[corpusPipeline]] (q133/q178) and [[tokenPipeline]] (q187): the
    * doc_id % 97 = 0 rows are the held-out eval split; returns the
    * contaminated TRAIN doc ids. Runs q131's bloom pre-filter FOR
    * REAL: only grams whose three probed bits are set reach the exact
    * equi-join. Semantics-neutral by the no-false-negative contract
    * (BloomSpec/q131 pin it), so the oracle replays the plain join —
    * what the pre-filter buys is the PLAN: the shuffled side shrinks
    * from every train gram to the ~fill³ candidate sliver (~98% cut
    * at sf0.1), which is the 100 TB deployment shape. */
  def gramDecontam(docs: DataFrame): DataFrame = {
    val grams = probeGrams(docs)
    // The eval-side gram set is read TWICE (the bloom build and the
    // exact semi-join) and each reference re-ran the full corpus
    // shingling pass upstream of the filter (r18 optimization round:
    // one of three probeGrams evaluations per pipeline run). Checkpoint
    // it: eval-set-sized by construction (1/97 of docs, post-distinct) —
    // at deployment this IS the stored decontamination artifact the
    // bloom bits are built from (q131's discipline), so materializing
    // it is the production shape, not a harness trick.
    val evalG = grams.filter(col("doc_id") % 97 === 0).select("gram")
      .distinct().localCheckpoint(false)
    val bloom = evalG.agg(expr("bloom_bits(gram)").as("bf"))
    grams.filter(col("doc_id") % 97 =!= 0)
      .crossJoin(broadcast(bloom))
      .filter(expr(bloomCandidateSql))
      .join(evalG, Seq("gram"), "left_semi")
      .select("doc_id").distinct()
      .withColumn("contaminated", lit(true))
  }

  /** The composed pipeline, parameterized on the quality stage's stop
    * rule: q133 runs WITHOUT r_stop (degenerate on the shipped 31-word
    * vocabulary — see the scaladoc above); q178 passes the lexicon
    * corpus's own stop list and runs the FULL five-rule battery. */
  /** The exact-dedup stage shared by [[corpusPipeline]] and
    * [[tokenPipeline]]: sha-256 content canonicalization with the
    * min-doc_id tie-break (q24's device) — (doc_id, is_dup). ONE
    * definition, so the q133/q178 and q187 gates cannot silently
    * diverge on the canonicalizer. */
  def contentDedupFlags(docs: DataFrame): DataFrame = docs
    .withColumn("content_hash", sha2(col("text"), 256))
    .withColumn("canon_id",
      min("doc_id").over(Window.partitionBy("content_hash")))
    .select(col("doc_id"), (col("doc_id") =!= col("canon_id")).as("is_dup"))

  def corpusPipeline(docs: DataFrame,
                     stops: Option[Seq[String]] = None): DataFrame = {
    val canon = contentDedupFlags(docs)
    val baseRules =
      col("r_wc") && col("r_mwl") && col("r_sym") && col("r_alpha")
    val quality = TextAnalysis
      .gopherRules(docs, stops.getOrElse(TextAnalysis.GopherStops))
      .select(col("doc_id"), col("n_words"),
        (if (stops.isDefined) baseRules && col("r_stop") else baseRules)
          .as("quality_pass"))
    val contaminated = gramDecontam(docs)
    docs.filter(col("doc_id") % 97 =!= 0)
      .select(col("doc_id"), col("lang"))
      .withColumn("bucket",
        expr(s"${TextDedup.h60(133, "CAST(doc_id AS STRING)")} % 1000"))
      .withColumn("mixture_keep", col("bucket") < keepRate(col("lang")))
      .join(canon, Seq("doc_id"))
      .join(quality, Seq("doc_id"))
      .join(contaminated, Seq("doc_id"), "left")
      .withColumn("contaminated", coalesce(col("contaminated"), lit(false)))
      .withColumn("survives", !col("is_dup") && col("quality_pass") &&
        !col("contaminated") && col("mixture_keep"))
      .withColumn("shard", when(col("survives"),
        expr(s"${TextDedup.h60(134, "CAST(doc_id AS STRING)")} % 8"))
        .otherwise(lit(null).cast("long")))
      .select("doc_id", "lang", "n_words", "is_dup", "quality_pass",
        "contaminated", "mixture_keep", "survives", "shard")
      .orderBy("doc_id")
  }

  /** q187's core — the MULTILINGUAL end-to-end recipe in MODEL-TOKEN
    * currency: [[corpusPipeline]]'s gate battery (exact dedup,
    * five-rule Gopher quality, 7-gram decontamination) with the stop
    * rule keyed by each document's OWN language list, followed by the
    * q184/q186 token-budget mixture REALIZED OVER THE GATE SURVIVORS —
    * masses, per-language α-temperature budgets and the replayable
    * cumulative cutoff all denominated in BPE tokens from the stored
    * tokenizer ([[bpeDocTokens]] against the q182 store). This is the
    * production order of operations: clean first, then budget what
    * actually survived cleaning (q186 budgets the raw corpus; a recipe
    * that budgets before cleaning over-counts the mass the gates will
    * remove). One row per TRAIN doc with every stage's verdict pinned,
    * like q133/q178's audit log, plus the token grain: n_tokens from
    * the store, token_keep from the budget cutoff, shard for the
    * survivors.
    *
    * A document with NOTHING encodable against the store (n_tokens =
    * 0) cannot carry budget mass: it stays in the log with
    * token_keep = false — visible attrition, not a dropped row.
    *
    * 100 TB shape: the union of its parents' shapes — one
    * content-hash shuffle, map-side quality flags (the per-language
    * stop list is a CASE over ≤|langs| literal arrays), the
    * bloom-prefiltered gram equi-join, the store's broadcast-encode
    * corpus pass, a band-sized budget plan and the q83 bounded-window
    * cutoff. No stage introduces a plan shape the standalone queries
    * have not already audited. */
  def tokenPipeline(docs: DataFrame,
                    merges: Seq[(Int, String, String, String, Long)],
                    dict: DataFrame,
                    stopsByLang: Map[String, Seq[String]],
                    seed: Int): DataFrame = {
    val qualityPass =
      (col("r_wc") && col("r_mwl") && col("r_sym") && col("r_alpha") &&
        col("r_stop")).as("quality_pass")
    val contaminated = gramDecontam(docs)
    val tok = bpeDocTokens(merges, dict, docs)
    // FUSED GATES (r19, guide §2.4 remove shuffles outright): the
    // quality battery is a pure map of each row and the dedup
    // canonicalizer is one window over content_hash — neither needs a
    // corpus-sized doc_id join to re-attach it. The battery's flags
    // ride the pipeline's own projection (gopherRules `carry`), the
    // hash window runs inline over the SAME rows (text dropped before
    // the exchange — §2.3: the hash, not the payload, crosses the
    // wire), and only the two row-count-changing stages (the
    // decontamination id set, the per-doc token censuses) remain
    // joins. Two corpus-sized doc_id exchanges removed; values
    // identical (the joins were 1:1 on doc_id; same expressions, same
    // window).
    val univ = TextAnalysis.gopherRules(docs, stopsByLang = Some(stopsByLang),
        carry = Seq("lang", "source", "text"))
      .withColumn("content_hash", sha2(col("text"), 256))
      .drop("text") // project before the exchange (§2.3)
      .withColumn("canon_id",
        min("doc_id").over(Window.partitionBy("content_hash")))
      .withColumn("is_dup", col("doc_id") =!= col("canon_id"))
      .filter(col("doc_id") % 97 =!= 0)
      .select(col("doc_id"), col("lang"), col("source"), col("is_dup"),
        col("n_words"), qualityPass)
      .join(contaminated, Seq("doc_id"), "left")
      .withColumn("contaminated", coalesce(col("contaminated"), lit(false)))
      .join(tok.select("doc_id", "n_tokens"), Seq("doc_id"), "left")
      .withColumn("n_tokens", coalesce(col("n_tokens"), lit(0L)))
      .localCheckpoint(false) // feeds the budget pool AND the final log
    val gates =
      !col("is_dup") && col("quality_pass") && !col("contaminated")
    val pool = univ.where(gates && col("n_tokens") > 0)
      .select("doc_id", "lang", "source", "n_tokens")
      .withColumn("h", expr(TextDedup.h60(seed, "CAST(doc_id AS STRING)")))
      .localCheckpoint(false) // feeds the plan aggregate AND the cutoff
    val plan = mixPlan(pool)
    val keepf = mixCumBefore(pool)
      // band-sized by construction — broadcast safe at any corpus scale
      .join(broadcast(plan.select("lang", "source", "target_tokens")),
        Seq("lang", "source"))
      .select(col("doc_id"),
        (col("cum_before") < col("target_tokens")).as("token_keep"))
    univ
      .join(keepf, Seq("doc_id"), "left")
      .withColumn("token_keep", coalesce(col("token_keep"), lit(false)))
      .withColumn("survives", gates && col("token_keep"))
      .withColumn("shard", when(col("survives"),
        expr(s"${TextDedup.h60(seed + 1, "CAST(doc_id AS STRING)")} % 8"))
        .otherwise(lit(null).cast("long")))
      .select("doc_id", "lang", "source", "n_words", "n_tokens", "is_dup",
        "quality_pass", "contaminated", "token_keep", "survives", "shard")
      .orderBy("doc_id")
  }
}
