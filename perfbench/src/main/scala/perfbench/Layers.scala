package perfbench

import scala.collection.mutable

/** What the benchmark itself measured around each call into the engine
  * (epoch milliseconds; NaN where a step did not happen). */
final case class QueryRun(id: String, pass: Int, sql: Boolean,
                          start: Double, regStart: Double, regEnd: Double,
                          constructStart: Double, constructEnd: Double, end: Double)

final case class PassRun(index: Int, start: Double, end: Double)

/** One node of the span tree: run > pass > query > {sqlentry.register,
  * construct, execute} > {streaming.batch, catalyst.*, job} > stage. */
final case class Span(id: Int, parent: Int, kind: String, name: String, layer: String,
                      start: Double, end: Double, depth: Int) {
  def dur: Double = end - start
}

/** Turns the benchmark's own timings plus the listener records into a span
  * tree per pass, then into per-pass layer figures. A layer's self time is
  * the wall time during which one of its spans is the deepest active span;
  * concurrent deepest spans (parallel stages) share that time equally, so
  * the self times of a pass add up to the pass. */
object Layers {
  final case class Result(perPass: Seq[Map[String, Double]], spans: Seq[Span],
                          minQueryCoverage: Double, selfVsPass: Double)

  def analyze(passes: Seq[PassRun], queries: Seq[QueryRun], c: Collector, cores: Int): Result =
    c.synchronized {
      val spans = mutable.ArrayBuffer.empty[Span]
      def add(parent: Option[Span], kind: String, name: String, layer: String,
              s: Double, e: Double): Option[Span] = {
        val (ps, pe, d) = parent.map(p => (p.start, p.end, p.depth + 1))
          .getOrElse((Double.NegativeInfinity, Double.PositiveInfinity, 0))
        val (cs, ce) = (math.max(s, ps), math.min(e, pe))
        if (s.isNaN || e.isNaN || ce < cs) None
        else {
          val sp = Span(spans.size, parent.map(_.id).getOrElse(-1), kind, name, layer, cs, ce, d)
          spans += sp; Some(sp)
        }
      }
      val run = add(None, "run", "run", "bench",
        passes.map(_.start).minOption.getOrElse(0.0), passes.map(_.end).maxOption.getOrElse(0.0)).get
      val queriesById = queries.map(q => q.id -> q).toMap
      val jobNode = mutable.HashMap.empty[Int, Span]

      val perPass = passes.map { p =>
        val first = spans.size
        val pass = add(Some(run), "pass", s"pass${p.index}", "bench", p.start, p.end).get
        val qs = queries.filter(_.pass == p.index)
        // per query: (query span, its containers in time order)
        val qSpans = qs.flatMap { q =>
          add(Some(pass), "query", q.id, "bench", q.start, q.end).map { qsp =>
            val ctrs = Seq(
              add(Some(qsp), "sqlentry.register", q.id, "sqlentry", q.regStart, q.regEnd),
              add(Some(qsp), "construct", q.id, if (q.sql) "sqlentry" else "operators",
                q.constructStart, q.constructEnd),
              add(Some(qsp), "execute", q.id, "exec.driver", q.constructEnd, q.end)).flatten
            q -> (qsp, ctrs)
          }
        }
        def queryAt(t: Double) = qSpans.find { case (_, (s, _)) => s.start <= t && t <= s.end }
        def containerAt(q: (QueryRun, (Span, Seq[Span])), t: Double, batches: Seq[Span]): Span =
          batches.find(b => b.start <= t && t <= b.end)
            .orElse(q._2._2.find(s => s.start <= t && t <= s.end)).getOrElse(q._2._1)

        val batchesByQuery = mutable.HashMap.empty[String, Seq[Span]].withDefaultValue(Nil)
        val batchRecs = c.batches.toSeq.flatMap { b =>
          queryAt(b.start).flatMap { q =>
            add(Some(containerAt(q, b.start, Nil)), "streaming.batch", q._1.id, "streaming", b.start, b.end)
              .map { sp => batchesByQuery(q._1.id) :+= sp; b }
          }
        }
        val passJobs = c.jobs.values.toSeq.flatMap { j =>
          val q = queriesById.get(j.query).filter(_.pass == p.index)
            .flatMap(qr => qSpans.find(_._1.id == qr.id)).orElse(queryAt(j.start))
          q.flatMap { q =>
            add(Some(containerAt(q, j.start, batchesByQuery(q._1.id))), "job", s"job${j.id}",
              "exec.job", j.start, if (j.end.isNaN) q._2._1.end else j.end)
              .map { sp => jobNode(j.id) = sp; (j, sp) }
          }
        }
        val passExecs = c.executions.toSeq.flatMap { x =>
          queryAt(x.start).map { q =>
            x.phases.foreach { ph =>
              add(Some(containerAt(q, ph.start, batchesByQuery(q._1.id))), "catalyst." + ph.name,
                q._1.id, "catalyst." + ph.name, ph.start, ph.end)
            }
            x
          }
        }
        val passJobIds = passJobs.map(_._1.id).toSet
        val passStages = c.stages.toSeq.flatMap { s =>
          c.stageJob.get(s.id).filter(passJobIds).flatMap(jobNode.get).flatMap { j =>
            add(Some(j), "stage", s"stage${s.id}", "exec.stage", s.start, s.end).map(s.id -> _)
          }
        }
        val tasks = passStages.map(_._1).distinct.flatMap(c.tasksByStage.get)

        val nodes = spans.drop(first).toSeq
        val self = selfTimes(nodes)
        val passS = pass.dur / 1000
        val constructS = qSpans.flatMap(_._2._2).filter(_.kind == "construct")
        val sqlConstruct = constructS.filter(_.layer == "sqlentry").map(_.dur).sum / 1000
        val opConstruct = constructS.filter(_.layer == "operators").map(_.dur).sum / 1000
        val registerS = nodes.filter(_.kind == "sqlentry.register").map(_.dur).sum / 1000
        val constructIds = constructS.map(_.id).toSet ++ nodes.filter(_.kind == "sqlentry.register").map(_.id)
        def under(s: Span, ids: Set[Int]): Boolean =
          ids(s.parent) || (s.parent >= 0 && under(spans(s.parent), ids))
        val jobUnion = union(passJobs.map(j => (j._2.start, j._2.end)))
        val phaseS = (n: String) => nodes.filter(_.kind == "catalyst." + n).map(_.dur).sum / 1000
        val taskRun = tasks.map(_.runMs).sum / 1000.0
        val mb = 1024.0 * 1024.0
        Map(
          "trace.pass_s" -> passS,
          "tables.scan_mb" -> tasks.map(_.inB).sum / mb,
          "tables.scan_rows" -> tasks.map(_.inRows).sum.toDouble,
          "operators.construct_s" -> opConstruct,
          "operators.construct_jobs" -> passJobs.count(j => under(j._2, constructIds)).toDouble,
          "operators.construct_share" -> (opConstruct + sqlConstruct + registerS) / passS,
          "sqlentry.register_s" -> registerS,
          "sqlentry.construct_s" -> sqlConstruct,
          "catalyst.analysis_s" -> phaseS("analysis"),
          "catalyst.optimization_s" -> phaseS("optimization"),
          "catalyst.planning_s" -> phaseS("planning"),
          "catalyst.executions" -> passExecs.size.toDouble,
          "catalyst.rewrite_rules_s" -> passExecs.map(_.rewriteNs).sum / 1e9,
          "exec.execute_s" -> nodes.filter(_.kind == "execute").map(_.dur).sum / 1000,
          "exec.jobs" -> passJobs.size.toDouble,
          "exec.stages" -> passStages.size.toDouble,
          "exec.tasks" -> tasks.map(_.tasks).sum.toDouble,
          "exec.task_run_s" -> taskRun,
          "exec.task_cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
          "exec.gc_s" -> tasks.map(_.gcMs).sum / 1000.0,
          "exec.sched_delay_s" -> tasks.map(_.schedMs).sum / 1000.0,
          "exec.driver_gap_s" -> (pass.dur - jobUnion) / 1000,
          "exec.busy_ratio" -> taskRun / (passS * cores),
          "exec.failed_tasks" -> tasks.map(_.failed).sum.toDouble,
          "exec.shuffle_write_mb" -> tasks.map(_.shufWriteB).sum / mb,
          "exec.shuffle_read_mb" -> tasks.map(_.shufReadB).sum / mb,
          "exec.spill_mb" -> tasks.map(_.spillB).sum / mb,
          "streaming.batches" -> batchRecs.size.toDouble,
          "streaming.batch_s" -> batchRecs.map(b => b.end - b.start).sum / 1000,
          "streaming.commit_s" -> batchRecs.map(_.commitMs).sum / 1000.0,
          "streaming.input_rows" -> batchRecs.map(_.inputRows).sum.toDouble,
          "streaming.state_rows" -> batchRecs.map(_.stateRows).sum.toDouble,
          "streaming.state_commit_s" -> batchRecs.map(_.stateCommitMs).sum / 1000.0,
        ) ++ LayerNames.map(l => s"self.$l" + "_s" -> self.getOrElse(l, 0.0) / 1000)
      }
      val coverage = queries.filter(q => passes.exists(_.index == q.pass)).map { q =>
        val covered = Seq((q.regStart, q.regEnd), (q.constructStart, q.constructEnd),
          (q.constructEnd, q.end)).filterNot(_._1.isNaN).map(x => x._2 - x._1).sum
        if (q.end > q.start) covered / (q.end - q.start) else 1.0
      }
      val selfSum = perPass.map(m => LayerNames.map(l => m(s"self.$l" + "_s")).sum).sum
      val passSum = perPass.map(_("trace.pass_s")).sum
      Result(perPass, spans.toSeq, coverage.minOption.getOrElse(1.0),
        if (passSum > 0) math.abs(selfSum - passSum) / passSum else 0.0)
    }

  val LayerNames: Seq[String] = Seq("bench", "operators", "sqlentry", "catalyst.analysis",
    "catalyst.optimization", "catalyst.planning", "exec.driver", "exec.job", "exec.stage",
    "streaming")

  /** Length of the union of intervals. */
  def union(iv: Seq[(Double, Double)]): Double = {
    var total, curS, curE = 0.0
    var open = false
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (!open || s > curE) { if (open) total += curE - curS; curS = s; curE = e; open = true }
      else curE = math.max(curE, e)
    }
    if (open) total += curE - curS
    total
  }

  /** Self time per layer over one pass's spans (milliseconds). */
  def selfTimes(nodes: Seq[Span]): Map[String, Double] = {
    val out = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
    val cuts = nodes.flatMap(n => Seq(n.start, n.end)).distinct.sorted
    val byStart = nodes.sortBy(_.start)
    cuts.sliding(2).foreach {
      case Seq(a, b) if b > a =>
        val active = byStart.iterator.takeWhile(_.start <= a).filter(_.end >= b).toSeq
        if (active.nonEmpty) {
          val deepest = active.map(_.depth).max
          val top = active.filter(_.depth == deepest)
          top.foreach(s => out(s.layer) += (b - a) / top.size)
        }
      case _ => ()
    }
    out.toMap
  }
}
