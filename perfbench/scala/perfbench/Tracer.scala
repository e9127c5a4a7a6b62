package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfbenchSql, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Sample}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.functions.sum
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.sources.LakeTable

/** A span of the run's trace: run → epoch / read / query → action → job. */
final case class Span(id: String, parent: String, name: String, layer: String,
                      startMs: Long, endMs: Long) {
  def ms: Long = math.max(0L, endMs - startMs)
}

/** Per-layer tracing from outside the engine, through Spark's public
  * listeners only: StreamingQueryListener for trigger phases,
  * QueryExecutionListener for each action's plan, output path and planning
  * phases, SparkListener for executions, jobs and stage metrics, and a log
  * appender on the code generator for compile times. Everything is kept in
  * memory and turned into spans and metrics once the run ends. */
final class Tracer(spark: SparkSession) extends AdaptiveSparkPlanHelper {
  private final case class Exec(id: Long, root: Long, startMs: Long)
  private final case class Qe(kind: String, phases: Map[String, Long], scanFiles: Long)
  private final case class Job(id: Int, exec: Long, batch: Long, query: String,
                               startMs: Long, stages: Seq[Int])
  private final case class StageM(shuffleWrite: Long, input: Long, spill: Long)

  private val execStart = TrieMap[Long, Exec]()
  private val execEnd = TrieMap[Long, Long]()
  private val qes = TrieMap[Long, Qe]() // by QueryExecution.id
  private val qeExec = TrieMap[Long, Long]() // QueryExecution.id -> execution id
  private val jobs = TrieMap[Int, Job]()
  private val jobEnd = TrieMap[Int, Long]()
  private val stages = TrieMap[Int, StageM]()
  private val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  private val codegen = new ConcurrentLinkedQueue[(Long, Double)]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      jobs(e.jobId) = Job(e.jobId, prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L),
        prop("streaming.sql.batchId").map(_.toLong).getOrElse(-1L),
        prop("sql.streaming.queryId").getOrElse(""), e.time, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnd(e.jobId) = e.time
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val m = e.stageInfo.taskMetrics
      if (m != null) stages(e.stageInfo.stageId) = StageM(
        m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.bytesRead, m.diskBytesSpilled)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = {
      e match {
        case s: SparkListenerSQLExecutionStart =>
          execStart(s.executionId) =
            Exec(s.executionId, s.rootExecutionId.getOrElse(s.executionId), s.time)
        case s: SparkListenerSQLExecutionEnd =>
          execEnd(s.executionId) = s.time
          PerfbenchSql.qeOf(s).foreach(q => qeExec(q.id) = s.executionId)
        case _ =>
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qes(qe.id) = classify(qe)
    def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      qes(qe.id) = Qe("failed", Map.empty, 0L)
  }

  private val streamListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
  }

  private val codegenLogger =
    "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  private val compiled = """Code generated in ([0-9.]+) ms""".r.unanchored
  private val appender = new AbstractAppender("perfbench-codegen", null, null, true,
      Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit = {
      e.getMessage.getFormattedMessage match {
        case compiled(ms) => codegen.add((e.getTimeMillis, ms.toDouble))
        case _ =>
      }
    }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)
  locally {
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val conf = ctx.getConfiguration
    val lc = new LoggerConfig(codegenLogger, Level.INFO, false)
    lc.addAppender(appender, Level.INFO, null)
    conf.addLogger(codegenLogger, lc)
    ctx.updateLoggers()
  }

  /** The action's role, told by its plan and output path, never by its call
    * site: inside foreachBatch every job has the same call site. */
  private def classify(qe: QueryExecution): Qe = {
    val plans = Seq(qe.logical, qe.analyzed)
    val out = plans.flatMap(_.collect { case c: InsertIntoHadoopFsRelationCommand =>
      c.outputPath.toString }) ++ collect(qe.executedPlan) {
      case w: DataWritingCommandExec => w.cmd match {
        case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString
        case _ => ""
      }
    }
    val path = out.find(_.nonEmpty).getOrElse("")
    // the dedup+stats collect also carries the reject-count observation, so
    // it is recognised by its aggregate on `_gbucket`, not by any name
    val gbucketAgg = plans.exists(_.exists {
      case a: Aggregate => a.groupingExpressions.exists(_.references.exists(_.name == "_gbucket"))
      case _ => false
    })
    val kind =
      if (path.contains("/_tmp_e")) "write"
      else if (path.contains("/_lineage/")) "lineage"
      else if (path.contains("/_rejects/")) "rejects"
      else if (path.nonEmpty) "other_write"
      else if (gbucketAgg) "dedup_stats"
      else if (plans.exists(_.exists(_.isInstanceOf[Sample]))) "skew_sample"
      else "other"
    val scanFiles = collect(qe.executedPlan) {
      case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
    Qe(kind, qe.tracker.phases.map { case (k, v) => k -> v.durationMs }, scanFiles)
  }

  // ------------------------------------------------------------------ report

  /** Per execution id, once the bus has delivered everything. */
  private var byExec: Map[Long, Qe] = Map.empty
  private def drain(): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    byExec = qeExec.flatMap { case (q, e) => qes.get(q).map(e -> _) }.toMap
  }

  private def execMs(id: Long): Long =
    execEnd.get(id).map(_ - execStart(id).startMs).getOrElse(0L)
  private def kindOf(id: Long): String = byExec.get(id).map(_.kind).getOrElse("other")
  private def jobsOf(execs: Set[Long]): Seq[Job] = jobs.values.filter(j => execs(j.exec)).toSeq
  private def stageSum(js: Seq[Job])(f: StageM => Long): Long =
    js.flatMap(_.stages).distinct.flatMap(stages.get).map(f).sum
  private def within(startMs: Long, endMs: Long): Set[Long] =
    execStart.values.filter(e => e.startMs >= startMs &&
      execEnd.get(e.id).exists(_ <= endMs)).map(_.id).toSet

  private def layerOfKind(kind: String, parent: String): String = kind match {
    case "write" => "lake"
    case "dedup_stats" | "skew_sample" => "dedup"
    case "lineage" | "rejects" => "merge"
    case _ => parent
  }
  private def layerOfOp(kind: String): String = kind match {
    case "feed" => "changefeed"
    case "lookup" | "state" => "lake"
    case "compact" => "maintain"
    case "query" => "query"
    case _ => "streaming"
  }

  private var mainQuery = ""
  private var tableDir = ""

  private def batches(opsEpochs: Set[Long]): Seq[StreamingQueryProgress] =
    progress.asScala.filter(p => p.name == mainQuery && opsEpochs(p.batchId) &&
      p.durationMs.containsKey("addBatch")).toSeq.sortBy(_.batchId)
  private def pStart(p: StreamingQueryProgress) = java.time.Instant.parse(p.timestamp).toEpochMilli
  private def dur(p: StreamingQueryProgress, k: String): Long =
    Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)

  /** Executions of one micro-batch: the addBatch root and the actions under it. */
  private def batchExecs(p: StreamingQueryProgress): (Option[Long], Set[Long]) = {
    val ids = jobs.values.filter(j => j.batch == p.batchId && j.query == p.id.toString)
      .map(_.exec).filter(_ >= 0).toSet
    val roots = ids.flatMap(execStart.get).map(_.root)
    val root = roots.headOption
    val children = execStart.values.filter(e => roots(e.root) && e.id != e.root).map(_.id).toSet
    (root, if (children.nonEmpty) children else ids)
  }

  /** Spans of the whole run, built from the client's ops and the listeners. */
  private def spans(ops: Seq[Op]): Seq[Span] = {
    val out = Seq.newBuilder[Span]
    val runStart = (ops.map(_.startMs) ++ progress.asScala.map(pStart)).minOption.getOrElse(0L)
    val runEnd = ops.map(_.endMs).maxOption.getOrElse(runStart)
    out += Span("run", "", "run", "run", runStart, runEnd)
    def actions(execs: Set[Long], parent: String, parentLayer: String): Unit =
      execs.foreach { id =>
        val e = execStart(id)
        val layer = layerOfKind(kindOf(id), parentLayer)
        out += Span(s"x$id", parent, kindOf(id), layer, e.startMs, execEnd.getOrElse(id, e.startMs))
        jobsOf(Set(id)).foreach(j => out += Span(s"j${j.id}", s"x$id", s"job ${j.id}", layer,
          j.startMs, jobEnd.getOrElse(j.id, j.startMs)))
      }
    val epochIds = ops.filter(_.kind == "epoch").map(_.attrs("epoch").asInstanceOf[Long]).toSet
    batches(epochIds).foreach { p =>
      val id = s"b${p.batchId}"
      val s = pStart(p)
      out += Span(id, "run", s"epoch ${p.batchId}", "streaming", s, s + dur(p, "triggerExecution"))
      val (root, children) = batchExecs(p)
      val addId = root.map(r => s"x$r").getOrElse(s"a${p.batchId}")
      val (as, ae) = root.flatMap(r => execEnd.get(r).map(end => (execStart(r).startMs, end)))
        .getOrElse((s, s + dur(p, "addBatch")))
      out += Span(addId, id, "addBatch", "merge", as, ae)
      actions(children, addId, "merge")
    }
    ops.filter(_.kind != "epoch").zipWithIndex.foreach { case (o, i) =>
      val id = s"o$i"
      val layer = layerOfOp(o.kind)
      out += Span(id, "run", o.kind, layer, o.startMs, o.endMs)
      o.attrs.get("load_s").foreach { s =>
        out += Span(s"l$i", id, "LakeTable.load", "lake", o.startMs,
          o.startMs + (s.asInstanceOf[Double] * 1000).toLong)
      }
      actions(within(o.startMs, o.endMs), id, layer)
    }
    out.result()
  }

  /** Self time per layer: each span's duration minus what its children cover. */
  private def selfTimes(ss: Seq[Span]): Map[String, Double] = {
    val kids = ss.groupBy(_.parent)
    ss.filter(_.layer != "run").groupBy(_.layer).map { case (layer, xs) =>
      layer -> xs.map(s => math.max(0L, s.ms - kids.getOrElse(s.id, Nil).map(_.ms).sum)).sum / 1000.0
    }
  }

  /** Ends the trace: writes the run's spans to `spansPath` and returns the
    * per-layer metrics (see perfbench/METRICS.md). */
  def finish(ops: Seq[Op], result: Map[String, Any], spansPath: String): Map[String, Any] = {
    mainQuery = result.getOrElse("stream_name", "").toString
    tableDir = result.getOrElse("table_dir", "").toString
    drain()
    val ss = spans(ops)
    Files.createDirectories(Paths.get(spansPath).getParent)
    Files.writeString(Paths.get(spansPath), new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValueAsString(ss.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "layer" -> s.layer, "start_ms" -> s.startMs, "end_ms" -> s.endMs))))
    val m = scala.collection.mutable.LinkedHashMap[String, Any]()
    val epochOps = ops.filter(_.kind == "epoch")
    val bs = batches(epochOps.map(_.attrs("epoch").asInstanceOf[Long]).toSet)
    def s(ms: Long) = ms / 1000.0

    // streaming: trigger phases of the timed batches
    m("stream.latest_offset_s") = s(bs.map(dur(_, "latestOffset")).sum)
    m("stream.plan_s") = s(bs.map(p => dur(p, "queryPlanning") + dur(p, "getBatch")).sum)
    m("stream.wal_s") = s(bs.map(p => dur(p, "walCommit") + dur(p, "commitOffsets")).sum)
    m("stream.add_batch_s") = s(bs.map(dur(_, "addBatch")).sum)
    m("stream.batches") = bs.size

    // merge / dedup: the actions inside each timed addBatch, by role
    val perBatch = bs.map(batchExecs)
    val actionIds = perBatch.flatMap(_._2)
    def kindMs(k: String) = s(actionIds.filter(kindOf(_) == k).map(execMs).sum)
    m("merge.skew_sample_s") = kindMs("skew_sample")
    m("merge.dedup_stats_s") = kindMs("dedup_stats")
    m("merge.write_s") = kindMs("write")
    m("merge.lineage_s") = kindMs("lineage")
    m("merge.rejects_s") = kindMs("rejects")
    m("merge.driver_s") = s(bs.zip(perBatch).map { case (p, (_, ids)) =>
      math.max(0L, dur(p, "addBatch") - ids.toSeq.map(execMs).sum) }.sum)
    m("merge.actions_per_epoch") =
      if (bs.isEmpty) 0.0 else actionIds.size.toDouble / bs.size
    val dedupJobs = jobsOf(actionIds.filter(kindOf(_) == "dedup_stats").toSet)
    m("dedup.shuffle_bytes") = stageSum(dedupJobs)(_.shuffleWrite)
    m("dedup.spill_bytes") = stageSum(dedupJobs)(_.spill)
    val history = if (tableDir.nonEmpty && bs.nonEmpty) LakeTable.history(tableDir) else Nil
    val timedVersions = history.filter(h => h.summary.get("graft.operation").contains("merge") &&
      h.summary.get("graft.query").contains(mainQuery) &&
      h.summary.get("graft.epoch").exists(e => bs.exists(_.batchId.toString == e)))
    val events = epochOps.map(_.attrs("events").asInstanceOf[Long]).sum
    val applied = if (bs.isEmpty) 0L else spark.read.parquet(
      bs.map(p => s"$tableDir/_lineage/q=$mainQuery/e=${p.batchId}"): _*)
      .agg(sum("rows_applied")).head().getLong(0)
    m("dedup.keys_per_event") = if (events == 0) 0.0 else applied.toDouble / events
    m("dedup.salted_epochs") = timedVersions.count(_.summary.get("graft.salted").contains("true"))

    // lake: files the timed epochs wrote, and what the reads touched
    val byVersion = history.map(h => h.version -> h.files.map(_.path).toSet).toMap
    val written = timedVersions.flatMap(h => h.files.map(_.path).toSet --
      byVersion.getOrElse(h.version - 1, Set.empty))
    m("lake.files_written") = written.size
    m("lake.bytes_written") = written.map(p => Files.size(Paths.get(s"$tableDir/$p"))).sum
    m("lake.snapshot_files") = result.getOrElse("files_before",
      history.filter(_.summary.get("graft.operation").contains("merge"))
        .lastOption.map(_.files.size).getOrElse(0))
    m("lake.manifest_load_s") = ops.flatMap(_.attrs.get("load_s")).map(_.asInstanceOf[Double]).sum
    def readStats(kind: String): (Double, Double) = {
      val rs = ops.filter(o => o.kind == kind && o.ok)
      if (rs.isEmpty) (0.0, 0.0) else {
        val per = rs.map { o =>
          val ids = within(o.startMs, o.endMs)
          (ids.toSeq.flatMap(byExec.get).map(_.scanFiles).sum.toDouble,
            stageSum(jobsOf(ids))(_.input).toDouble)
        }
        (per.map(_._1).sum / rs.size, per.map(_._2).sum / rs.size)
      }
    }
    val (lf, lb) = readStats("lookup")
    m("lake.lookup_files") = lf
    m("lake.lookup_bytes") = lb
    val (ff, fb) = readStats("feed")
    m("feed.files_scanned") = ff
    m("feed.read_bytes") = fb
    val feeds = ops.filter(o => o.kind == "feed" && o.ok)
    m("feed.rows_out") = if (feeds.isEmpty) 0.0
      else feeds.map(_.attrs.getOrElse("count", 0L).asInstanceOf[Long]).sum.toDouble / feeds.size

    m("compact.files_before") = result.getOrElse("files_before", 0)
    m("compact.files_after") = result.getOrElse("files_after", 0)
    m("compact.bytes_rewritten") = result.getOrElse("bytes_after", 0L)

    // query: build, planning phases, codegen and execution per query
    val qs = ops.filter(o => o.kind == "query" && o.ok)
    var analysis, optimization, planning, shuffle, nJobs = 0L
    var build, exec, codegenMs = 0.0
    qs.foreach { o =>
      val b = o.attrs("build_s").asInstanceOf[Double]
      val a0 = o.attrs("action_start_ms").asInstanceOf[Long]
      val ids = within(a0, o.endMs).toSeq
      def phase(k: String) = ids.flatMap(byExec.get).map(_.phases.getOrElse(k, 0L)).sum
      val (an, op, pl) = (phase("analysis"), phase("optimization"), phase("planning"))
      val cg = codegen.asScala.filter { case (t, _) => t >= a0 && t <= o.endMs }.map(_._2).sum
      analysis += an; optimization += op; planning += pl; codegenMs += cg
      build += b
      exec += math.max(0.0, o.seconds - b - (an + op + pl + cg) / 1000.0)
      val allJobs = jobs.values.filter(j => j.startMs >= o.startMs && j.startMs <= o.endMs).toSeq
      nJobs += allJobs.size
      shuffle += stageSum(allJobs)(_.shuffleWrite)
    }
    m("query.build_s") = build
    m("query.analysis_s") = s(analysis)
    m("query.optimization_s") = s(optimization)
    m("query.planning_s") = s(planning)
    m("query.codegen_s") = codegenMs / 1000.0
    m("query.exec_s") = exec
    m("query.shuffle_bytes") = shuffle
    m("query.jobs") = nJobs
    qs.foreach(o => m(s"query.${o.attrs("name")}.s") = o.seconds)

    val self = selfTimes(ss)
    Seq("streaming", "merge", "dedup", "lake", "changefeed", "maintain", "query")
      .foreach(l => m(s"self.${l}_s") = self.getOrElse(l, 0.0))
    m.toMap
  }
}

