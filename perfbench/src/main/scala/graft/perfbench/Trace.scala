package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Turns a traced run's request phases and listener records into spans
  * (`trace.jsonl`) and per-layer metrics. Every metric is a mean per
  * traced request of the kind the layer serves. */
final class Trace(rec: Recorder, reqs: Seq[Req], epochOffsetMs: Double) {
  private def ms(ns: Long): Double = epochOffsetMs + ns / 1e6
  private val ok = reqs.filter(_.error == null)
  private val allJobs = rec.jobs.values.asScala.toSeq.sortBy(_.start)
  private val stagesByJob = rec.stages.asScala.toSeq.groupBy(_.jobId)
  private val batches = rec.batches.asScala.toSeq

  /** Jobs of a request: by its local property, else (builder thread
    * pools) by start time inside the request's window. */
  private def jobsOf(r: Req): Seq[JobRec] = {
    val (w0, w1) = (ms(r.t0) - 1, ms(r.tDone) + 1)
    allJobs.filter(j => j.req == r.id || (j.req == -1 && j.start >= w0 && j.start <= w1))
  }
  private def phaseOf(r: Req, j: JobRec): String =
    r.phases.find { case (_, a, b) => j.start >= ms(a) - 1 && j.start <= ms(b) + 1 }
      .map(_._1).getOrElse("request")
  private def jobEnd(j: JobRec) = if (j.end < 0) j.start else j.end
  private def dur(r: Req, phase: String): Double =
    r.phases.filter(_._1 == phase).map { case (_, a, b) => (b - a) / 1e9 }.sum

  /** Phase time not covered by any of its jobs (planning and scheduling). */
  private def selfS(r: Req, phase: String, js: Seq[JobRec]): Double =
    r.phases.filter(_._1 == phase).map { case (_, a, b) =>
      val (p0, p1) = (ms(a), ms(b))
      val iv = js.map(j => (math.max(p0, j.start.toDouble), math.min(p1, jobEnd(j).toDouble)))
        .filter(x => x._2 > x._1).sortBy(_._1)
      var covered = 0.0; var cur = (0.0, -1.0)
      iv.foreach { x =>
        if (x._1 > cur._2) { covered += math.max(0.0, cur._2 - cur._1); cur = x }
        else cur = (cur._1, math.max(cur._2, x._2))
      }
      covered += math.max(0.0, cur._2 - cur._1)
      math.max(0.0, (p1 - p0) - covered) / 1e3
    }.sum

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def layers(cpuS: Double, gcS: Double, loopS: Double, cores: Int): Json = {
    val j = new Json
    val reg = ok.filter(_.kind == "registry")
    val withExec = ok.filter(_.phases.exists(_._1 == "exec.run"))
    val perReq = ok.map(r => r -> jobsOf(r)).toMap
    def jobsIn(r: Req, phase: String) = perReq(r).filter(phaseOf(r, _) == phase)
    def stagesIn(r: Req, phase: String) = jobsIn(r, phase).flatMap(x => stagesByJob.getOrElse(x.jobId, Nil))
    def execMean(f: Seq[StageRec] => Double) = mean(withExec.map(r => f(stagesIn(r, "exec.run"))))
    val mb = 1024.0 * 1024.0

    j.num("registry.build_s", mean(reg.map(dur(_, "registry.build"))))
      .num("registry.build_jobs", mean(reg.map(jobsIn(_, "registry.build").size.toDouble)))
      .num("registry.self_s", mean(reg.map(r => selfS(r, "registry.build", perReq(r)))))
      .num("catalyst.plan_s", mean(reg.map(dur(_, "catalyst.plan"))))
      .num("exec.run_s", mean(withExec.map(dur(_, "exec.run"))))
      .num("exec.self_s", mean(withExec.map(r => selfS(r, "exec.run", perReq(r)))))
      .num("exec.jobs", mean(withExec.map(jobsIn(_, "exec.run").size.toDouble)))
      .num("exec.stages", execMean(_.size.toDouble))
      .num("exec.tasks", execMean(_.map(_.tasks).sum.toDouble))
      .num("exec.task_s", execMean(_.map(_.runMs).sum / 1e3))
      .num("exec.stage_floor_s", execMean(_.map(_.floorMs).sum / 1e3))
      .num("exec.input_mb", execMean(_.map(_.inBytes).sum / mb))
      .num("exec.shuffle_write_mb", execMean(_.map(_.shuffleWrite).sum / mb))
      .num("exec.shuffle_read_mb", execMean(_.map(_.shuffleRead).sum / mb))
      .num("exec.spill_mb", execMean(_.map(_.spill).sum / mb))
      .num("exec.task_gc_s", execMean(_.map(_.gcMs).sum / 1e3))
      .num("ckptgc.sweep_s", mean(ok.map(dur(_, "ckptgc.sweep"))))
      .num("ckptgc.rdds_swept", mean(ok.map(_.swept.toDouble)))
      .num("request.self_s", mean(ok.map(r =>
        (r.tDone - r.t0) / 1e9 - r.phases.map(p => (p._3 - p._2) / 1e9).sum)))
      .num("jvm.cpu_s", cpuS / math.max(1, reqs.size))
      .num("jvm.cpu_util", cpuS / math.max(1e-9, loopS * cores))
      .num("jvm.gc_s", gcS / math.max(1, reqs.size))
      .num("trace.overhead_frac", overhead)
      .num("trace.requests", ok.size)

    val streams = reg.filter(_.key.startsWith("q_stream_"))
    if (streams.nonEmpty) {
      def bs(r: Req) = r.phases.filter(_._1 == "registry.build").flatMap { case (_, a, b) =>
        batches.filter(x => x.atMs >= ms(a) - 1 && x.atMs <= ms(b) + 1)
      }
      def phase(p: String)(r: Req) = bs(r).map(_.durations.getOrElse(p, 0L)).sum / 1e3
      j.num("stream.drive_s", mean(streams.map(dur(_, "registry.build"))))
        .num("stream.batches", mean(streams.map(bs(_).size.toDouble)))
      Seq("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset")
        .foreach(p => j.num(s"stream.${p}_s", mean(streams.map(phase(p)))))
      j.num("stream.state_commit_s", mean(streams.map(bs(_).map(_.stateCommitMs).sum / 1e3)))
        .num("stream.state_rows", mean(streams.map(r => bs(r).map(_.stateRows).maxOption.getOrElse(0L).toDouble)))
        .num("stream.state_mb", mean(streams.map(r => bs(r).map(_.stateBytes).maxOption.getOrElse(0L) / mb)))
        .num("stream.input_rows", mean(streams.map(bs(_).map(_.rows).sum.toDouble)))
    }
    val lake = ok.filter(r => r.kind == "ingest" || r.kind == "catalog")
    if (lake.nonEmpty) {
      Seq("ingest.csv_read", "ingest.gold_write", "ingest.gold_read").foreach { p =>
        j.num(s"${p}_s", mean(lake.filter(_.phases.exists(_._1 == p)).map(dur(_, p))))
      }
      lake.filter(_.kind == "catalog").groupBy(_.key).toSeq.sortBy(_._1).foreach { case (k, rs) =>
        j.num(s"catalog.${k}_s", mean(rs.map(_.latency)))
      }
      val blocks = math.max(1, lake.count(_.key == "csv_ingest"))
      j.num("catalog.bytes_rewritten_mb", lake.filter(_.kind == "catalog")
        .flatMap(r => perReq(r).flatMap(x => stagesByJob.getOrElse(x.jobId, Nil)))
        .map(_.outBytes).sum / mb / blocks)
    }
    j
  }

  /** Time the recorder's callbacks took, per second of request wall. */
  private def overhead: Double =
    rec.busyNs.get / 1e9 / math.max(1e-9, reqs.map(r => (r.tDone - r.t0) / 1e9).sum)

  /** Span-sum completeness: the layer spans of each request must add
    * up to its wall time within 5%. */
  def check: Json = {
    val gaps = ok.map { r =>
      val root = (r.tDone - r.t0).toDouble
      math.abs(root - r.phases.map(p => (p._3 - p._2).toDouble).sum) / math.max(root, 1.0)
    }
    new Json().num("requests", gaps.size).num("within_5pct", gaps.count(_ <= 0.05))
      .num("max_gap_frac", if (gaps.isEmpty) 0.0 else gaps.max)
  }

  def write(path: String): Unit = {
    val sb = new StringBuilder
    def span(r: Req, name: String, a: Double, b: Double, parent: String,
             extra: Json => Json = identity): Unit =
      sb.append(extra(new Json().num("req", r.id).str("key", r.key).str("name", name)
        .num("start_us", math.round(a * 1e3)).num("end_us", math.round(b * 1e3))
        .str("parent", parent)).render).append('\n')
    ok.foreach { r =>
      span(r, "request", ms(r.t0), ms(r.tDone), null)
      r.phases.foreach { case (n, a, b) => span(r, n, ms(a), ms(b), "request") }
      jobsOf(r).foreach { x =>
        span(r, "spark.job", x.start, jobEnd(x), phaseOf(r, x), _.num("job_id", x.jobId))
        stagesByJob.getOrElse(x.jobId, Nil).foreach { s =>
          span(r, "spark.stage", s.submit, s.complete, s"spark.job:${x.jobId}",
            _.num("stage_id", s.stageId).num("tasks", s.tasks))
        }
      }
    }
    Files.write(Paths.get(path), sb.toString.getBytes(UTF_8))
  }
}
