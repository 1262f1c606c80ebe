package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.regex.Pattern
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** The traced run's attribution, all from outside the program.
  *
  * A SparkListener records every job of a date (jobs carry the date and
  * phase as local properties, so broadcast and AQE stage jobs are caught
  * too) and charges it to exactly one step and one TableCatalog verb:
  *
  *  - step, by the job's call-site stack: a frame in etl.StagingLoader is
  *    `staging`; Runner.mergeDim or etl.Scd2 is `scd2`; etl.FactLoader is
  *    `facts`; rules.FraudRules or report.FraudReport is `report`;
  *  - else by the table the job writes (stg_* staging, dim_* scd2, fact_*
  *    facts, rep_fraud report) or, for a read-only job, the table it scans;
  *  - a schema-inference read (a job outside any SQL execution, under a
  *    TableCatalog read, naming no table) is charged to the step of the
  *    next job that is not one: the read feeds that job. Any other job
  *    left without a step is unattributed, and the run fails its check.
  *
  * Only method and table names are used, never source line numbers. The
  * verb is the outermost TableCatalog frame. A SQL execution's call site
  * is taken from its start event, which is captured on the calling thread.
  *
  * A sampler thread reads the driver thread's stack every [[Tracer.PeriodMs]]
  * ms to place time that no job covers: it splits the date into step segments
  * (with the job starts as further evidence) and finds time spent in
  * catalog commits and xlsx parsing. Spans stay in memory
  * and are written out by [[close]].
  */
final class Tracer(spark: SparkSession, driver: Thread, cores: Int) {
  import Tracer._

  private final class JobRec(val id: Int, val date: String, val start: Long,
                             val exec: Option[Long], val stageSite: String) {
    var end = 0L
    var stages = 0
    var tasks = 0
    var cpuMs, shuffleBytes, spillBytes, rowsIn, rowsOut, bytesOut = 0L
  }

  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.Map[Int, JobRec]()
  private val execs = mutable.Map[Long, Exec]()
  private val samples = mutable.ArrayBuffer[Sample]()
  private val dates = mutable.ArrayBuffer[DateSpan]()
  private val files = mutable.Map[String, Int]()
  private val filesSeen = mutable.Map[String, mutable.Set[String]]()
  private val spans = mutable.ArrayBuffer[Map[String, Any]]()
  @volatile private var drained = -1
  @volatile private var current: Option[(String, String, Seq[String], Long, Long)] = None

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val p = e.properties
      if (p != null && p.getProperty(BatchBench.Phase) == "drain") drained = e.jobId
      if (p != null && p.getProperty(BatchBench.Phase) == "date") {
        val exec = Option(p.getProperty("spark.sql.execution.id")).map(_.toLong)
        val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
        val j = new JobRec(e.jobId, p.getProperty(DateProp), e.time, exec, site)
        jobs(e.jobId) = j
        e.stageIds.foreach(s => stageJob(s) = j)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      stageJob.get(e.stageId).foreach { j =>
        j.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          j.cpuMs += m.executorRunTime
          j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          j.spillBytes += m.diskBytesSpilled
          j.rowsIn += m.inputMetrics.recordsRead
          j.rowsOut += m.outputMetrics.recordsWritten
          j.bytesOut += m.outputMetrics.bytesWritten
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => Tracer.this.synchronized {
        execs(s.executionId) = Exec(s.details, s.physicalPlanDescription)
      }
      case _ =>
    }
  }
  spark.sparkContext.addSparkListener(listener)

  @volatile private var running = true
  private val sampler = new Thread(() => {
    while (running) {
      current.foreach { _ =>
        val frames = driver.getStackTrace.toSeq.map(f => s"${f.getClassName}.${f.getMethodName}")
        val s = Sample(System.currentTimeMillis(), System.nanoTime(), stepOfFrames(frames),
          verbOf(frames),
          frames.exists(_.startsWith("graft.io.Xlsx")),
          frames.exists(_.startsWith("graft.io.Archiver")))
        Tracer.this.synchronized(samples += s)
      }
      java.util.concurrent.locks.LockSupport.parkNanos(PeriodMs * 1000000L)
    }
  }, "perfbench-sampler")
  sampler.setDaemon(true)
  sampler.start()

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  def beginDate(tag: String, wh: String, inputs: Seq[String]): Unit = {
    spark.sparkContext.setLocalProperty(DateProp, tag)
    current = Some((tag, wh, inputs, System.currentTimeMillis(), gcMs))
  }

  /** `wallS` is the date's wall time as the benchmark timed it. */
  def endDate(wallS: Double): Unit = {
    val t1 = System.currentTimeMillis()
    current.foreach { case (tag, wh, inputs, t0, gc0) =>
      synchronized(dates += DateSpan(tag, wh, inputs, t0, t1, wallS, gcMs - gc0))
    }
    current = None
    spark.sparkContext.setLocalProperty(DateProp, null)
  }

  /** Data files that landed under the warehouse since the last call. */
  def filesWritten(tag: String, wh: String): Unit = {
    val seen = filesSeen.getOrElseUpdate(wh, mutable.Set[String]())
    val s = Files.walk(Paths.get(wh))
    val now = try s.iterator().asScala.filter(p => Files.isRegularFile(p) &&
      p.getFileName.toString.endsWith(".parquet")).map(_.toString).toSet
    finally s.close()
    synchronized(files(s"$wh/$tag") = (now -- seen).size)
    seen ++= now
  }

  /** Blocks until the listener has seen every event posted so far: the
    * bus delivers in order, so seeing a fresh job start is enough. */
  private def drain(): Unit = {
    val sc = spark.sparkContext
    drained = -1
    sc.setLocalProperty(BatchBench.Phase, "drain")
    sc.parallelize(Seq(1), 1).count()
    sc.setLocalProperty(BatchBench.Phase, null)
    val deadline = System.currentTimeMillis() + 30000
    while (drained < 0 && System.currentTimeMillis() < deadline) Thread.sleep(5)
  }

  /** Per-date layer metrics of every traced date, in run order. */
  def analyze(): Seq[Map[String, Any]] = {
    drain()
    synchronized(dates.toSeq.map(analyzeDate))
  }

  private def analyzeDate(d: DateSpan): Map[String, Any] = {
    val js = jobs.values.filter(j => j.date == d.tag && j.start >= d.t0 && j.start <= d.t1)
      .toSeq.sortBy(_.start)
    val whQ = Pattern.quote(d.wh)
    val tableRe = Pattern.compile(whQ + "/([A-Za-z0-9_]+)")
    // formatted explain: the write node's detail block names its target
    val writeRe = Pattern.compile("\\(\\d+\\) Execute InsertIntoHadoopFsRelationCommand\\s*\n" +
      "Input: [^\n]*\nArguments: (?:file:)?" + whQ + "/([A-Za-z0-9_]+)")

    final case class Info(j: JobRec, frames: Seq[String], write: Option[String],
                          scans: Seq[String], io: Boolean, verb: Option[String])
    val infos = js.map { j =>
      val ex = j.exec.flatMap(execs.get)
      val site = ex.map(_.site).filter(_.nonEmpty).getOrElse(j.stageSite)
      val frames = site.split("\n").toSeq.map(_.trim.takeWhile(_ != '('))
      val plan = ex.map(_.plan).getOrElse("")
      val write = Some(writeRe.matcher(plan)).filter(_.find()).map(_.group(1))
      val m = tableRe.matcher(plan)
      val scans = Iterator.continually(m).takeWhile(_.find()).map(_.group(1)).toSeq.distinct
        .filterNot(write.contains)
      Info(j, frames, write, scans, d.inputs.exists(plan.contains), verbOf(frames))
    }
    val byStack = infos.map(i => stepOfFrames(i.frames))
    val known = infos.zip(byStack).map { case (i, s) => s.orElse(stepOfTables(i.write, i.scans)) }
    // the one neighbour rule: a schema-inference read (a job outside any
    // SQL execution, under a catalog read, naming no table) feeds the next
    // job that is not one itself. Any other job without a step stays
    // unattributed, so a new kind of job fails the run instead of taking
    // a neighbour's label.
    def inference(k: Int) = known(k).isEmpty && infos(k).j.exec.isEmpty &&
      infos(k).verb.exists(ReadVerbs)
    val steps = known.indices.map { k =>
      known(k).orElse(Some(k).filter(inference)
        .flatMap(_ => known.indices.drop(k + 1).find(!inference(_)).flatMap(known(_))))
        .getOrElse(Unattributed)
    }
    val rule = known.indices.map { k =>
      if (byStack(k).isDefined) "stack" else if (known(k).isDefined) "table"
      else if (steps(k) != Unattributed) "next" else "none"
    }

    // step segments: the latest evidence (a job start or a stack sample
    // inside a step) holds until the next one
    val ss = samples.filter(s => s.t >= d.t0 && s.t <= d.t1).toSeq
    val evidence = (infos.zip(steps).map { case (i, s) => (i.j.start, s) } ++
      ss.flatMap(s => s.step.map(s.t -> _)) ++
      ss.filter(_.archive).map(s => (s.t, Archive))).sortBy(_._1)
    val segs = evidence.zipWithIndex.map { case ((t, s), k) =>
      (t, if (k + 1 < evidence.size) evidence(k + 1)._1 else d.t1, s)
    }
    val busy = union(infos.map(i => (i.j.start, if (i.j.end > 0) i.j.end else d.t1)))
    def covered(a: Long, b: Long): Long =
      busy.map { case (x, y) => math.max(0L, math.min(b, y) - math.max(a, x)) }.sum
    def inJob(t: Long): Boolean = busy.exists { case (x, y) => t >= x && t <= y }
    // a sample stands for the time until the next one (capped)
    val weightS = ss.zip(ss.drop(1).map(_.ns) :+ (ss.lastOption.map(_.ns).getOrElse(0L) +
      PeriodMs * 1000000L)).map { case (s, next) =>
      s -> math.min(next - s.ns, 3L * PeriodMs * 1000000L) / 1e9 }.toMap

    val wall = d.wallS
    val out = mutable.LinkedHashMap[String, Any]("tag" -> d.tag, "date_s" -> wall)
    var stepWall = 0.0
    for (step <- Steps) {
      val mine = infos.zip(steps).collect { case (i, s) if s == step => i.j }
      val segMs = segs.collect { case (a, b, s) if s == step => (a, b) }
      val w = segMs.map { case (a, b) => b - a }.sum / 1e3
      stepWall += w
      out ++= Seq(
        s"$step.wall_s" -> w,
        s"$step.jobs" -> mine.size,
        s"$step.stages" -> mine.map(_.stages).sum,
        s"$step.tasks" -> mine.map(_.tasks).sum,
        s"$step.cpu_s" -> mine.map(_.cpuMs).sum / 1e3,
        s"$step.driver_s" -> (w - segMs.map { case (a, b) => covered(a, b) }.sum / 1e3),
        s"$step.shuffle_mb" -> mine.map(_.shuffleBytes).sum / 1048576.0,
        s"$step.rows_in" -> mine.map(_.rowsIn).sum,
        s"$step.rows_out" -> mine.map(_.rowsOut).sum)
    }
    val all = infos.map(_.j)
    val cpu = all.map(_.cpuMs).sum / 1e3
    val busyS = busy.map { case (a, b) => b - a }.sum / 1e3
    val analyze = infos.filter(_.verb.contains("analyze"))
    out ++= Seq(
      "io.parse_cpu_s" -> infos.filter(_.io).map(_.j.cpuMs).sum / 1e3,
      "io.xlsx_s" -> ss.filter(_.xlsx).map(weightS).sum,
      "catalog.read_jobs" -> infos.count(_.verb.exists(ReadVerbs)),
      "catalog.analyze_jobs" -> analyze.size,
      "catalog.analyze_cpu_s" -> analyze.map(_.j.cpuMs).sum / 1e3,
      "catalog.commit_s" -> ss.filter(s => s.verb.exists(CommitVerbs) && !inJob(s.t))
        .map(weightS).sum,
      "catalog.files_written" -> files.getOrElse(s"${d.wh}/${d.tag}", 0),
      "scd2.open_rows_written" -> infos.zip(steps).collect {
        case (i, "scd2") if i.verb.contains("replaceAtomic") => i.j.rowsOut }.sum,
      "catalog.bytes_written_mb" -> all.map(_.bytesOut).sum / 1048576.0,
      "runner.gap_s" -> (wall - stepWall),
      "spark.jobs" -> all.size,
      "spark.stages" -> all.map(_.stages).sum,
      "spark.tasks" -> all.map(_.tasks).sum,
      "spark.spill_mb" -> all.map(_.spillBytes).sum / 1048576.0,
      "spark.gc_s" -> d.gcMs / 1e3,
      "spark.core_util" -> (if (busyS > 0) cpu / (cores * busyS) else 0.0),
      "unattributed_jobs" -> steps.count(_ == Unattributed))
    spans ++= infos.indices.map { k =>
      val i = infos(k)
      Map("kind" -> "job", "date" -> d.tag, "id" -> i.j.id, "start" -> i.j.start,
        "end" -> i.j.end, "step" -> steps(k), "by" -> rule(k), "verb" -> i.verb.orNull,
        "write" -> i.write.orNull, "scans" -> i.scans,
        "site" -> (if (steps(k) == Unattributed) i.frames.take(40) else Seq.empty))
    }
    spans ++= segs.map { case (a, b, s) =>
      Map("kind" -> "segment", "date" -> d.tag, "start" -> a, "end" -> b, "step" -> s)
    }
    spans += Map("kind" -> "date", "date" -> d.tag, "start" -> d.t0, "end" -> d.t1)
    out.toMap
  }

  /** Stops sampling, detaches the listener and writes the spans. */
  def close(path: String): Unit = {
    running = false
    sampler.join()
    spark.sparkContext.removeSparkListener(listener)
    Json.write(path, synchronized(spans.toSeq))
  }
}

object Tracer {
  private final case class Exec(site: String, plan: String)
  /** `t` in epoch ms (the clock of job events), `ns` for sample weights. */
  private final case class Sample(t: Long, ns: Long, step: Option[String],
                                  verb: Option[String], xlsx: Boolean, archive: Boolean)
  private final case class DateSpan(tag: String, wh: String, inputs: Seq[String],
                                    t0: Long, t1: Long, wallS: Double, gcMs: Long)

  val DateProp = "perfbench.date"
  /** Driver-stack sampling period. */
  val PeriodMs = 5
  val Steps = Seq("staging", "scd2", "facts", "report")
  val Archive = "archive"
  val Unattributed = "unattributed"
  val ReadVerbs = Set("read", "readOrEmpty", "readOrEmptyHinted")
  val CommitVerbs = Set("overwrite", "append", "appendPartitioned", "replaceAtomic", "putMarker")

  /** Step of a call stack (frames as `class.method`, innermost first). */
  def stepOfFrames(frames: Seq[String]): Option[String] =
    if (frames.exists(_.startsWith("graft.etl.StagingLoader"))) Some("staging")
    else if (frames.exists(f => f.startsWith("graft.etl.Scd2") ||
      (f.startsWith("graft.Runner.") && f.contains("mergeDim")))) Some("scd2")
    else if (frames.exists(_.startsWith("graft.etl.FactLoader"))) Some("facts")
    else if (frames.exists(f => f.startsWith("graft.rules.FraudRules") ||
      f.startsWith("graft.report.FraudReport"))) Some("report")
    else None

  /** Step of a job from the table it writes, else the tables it scans. */
  def stepOfTables(write: Option[String], scans: Seq[String]): Option[String] = {
    def of(t: String, writing: Boolean): Option[String] =
      if (t.startsWith("stg_")) Some(if (writing) "staging" else "scd2")
      else if (t.startsWith("dim_")) Some(if (writing) "scd2" else "report")
      else if (t.startsWith("fact_")) Some(if (writing) "facts" else "report")
      else if (t == "rep_fraud" || t == "_commits") Some("report")
      else None
    write.flatMap(of(_, writing = true)).orElse(scans.flatMap(of(_, writing = false)).headOption)
  }

  /** The outermost TableCatalog method on the stack. */
  def verbOf(frames: Seq[String]): Option[String] =
    frames.filter(_.startsWith("graft.catalog.TableCatalog.")).lastOption.map { f =>
      val m = f.stripPrefix("graft.catalog.TableCatalog.")
      if (m.startsWith("$anonfun$")) m.stripPrefix("$anonfun$").takeWhile(_ != '$') else m
    }

  def union(xs: Seq[(Long, Long)]): Seq[(Long, Long)] =
    xs.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((a, b) :: rest, (x, y)) if x <= b => (a, math.max(b, y)) :: rest
      case (acc, iv) => iv :: acc
    }.reverse
}
