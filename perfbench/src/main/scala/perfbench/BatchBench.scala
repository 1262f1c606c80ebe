package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, date_format, lit}
import graft.Runner
import graft.catalog.TableCatalog
import graft.io.Sources

/** The benchmark JVM: runs `Runner.runDate` over a backlog of dated drops
  * in one SparkSession, one date after another (a closed loop with one
  * client: the next date starts once the previous one has committed).
  *
  * Set-up is what a cron run pays before its own date: session start,
  * catalog open, and the backlog's first date (the initial load, which also
  * warms the JVM and Spark's code generation). The remaining dates are the
  * timed operations. A pass runs them once; while `--seconds` have not
  * passed, another pass replays the backlog on a fresh warehouse (its first
  * date untimed). With `--trace 1`, traced passes follow the plain ones.
  *
  * Raw measurements go to `--out` as JSON; run.py turns them into metrics
  * and checks the outputs. Only `runDate` is timed. Copies of the drops
  * (Archiver moves its inputs) and the output capture after each date run
  * outside the timed region, and the capture's Spark jobs carry the
  * "check" phase so the tracer skips them.
  *
  * Usage: BatchBench --gen <dir> --work <dir> --out <file> --cores <n>
  *          --incremental <bool> --seconds <s> --trace <0|1>
  */
object BatchBench {
  val Dims = Seq("dim_clients_hist", "dim_accounts_hist", "dim_cards_hist",
    "dim_terminals_hist")
  val Phase = "perfbench.phase"
  val MaxPasses = 4

  /** `Sources.SourceDb` over per-date `info.*` snapshots: `<root>/<DDMMYYYY>/`. */
  final class DatedSourceDb(root: String) extends Sources.SourceDb {
    @volatile var tag: String = ""
    private def db = new Sources.SnapshotSourceDb(s"$root/$tag")
    def clients(spark: SparkSession): DataFrame = db.clients(spark)
    def accounts(spark: SparkSession): DataFrame = db.accounts(spark)
    def cards(spark: SparkSession): DataFrame = db.cards(spark)
  }

  /** One warehouse and its copy of the drops, fed date by date. */
  final class Backlog(spark: SparkSession, gen: String, val dir: String,
                      incremental: Boolean) {
    deleteTree(Paths.get(dir))
    val in: String = copyDrops(gen, s"$dir/in")
    val wh = s"$dir/wh"
    private val t0 = System.nanoTime()
    val cat = new TableCatalog(spark, wh)
    /** Catalog open time, part of set-up. */
    val openS: Double = (System.nanoTime() - t0) / 1e9
    private val db = new DatedSourceDb(s"$gen/info")
    private val runner = new Runner(spark, cat, db, incrementalReport = incremental)

    /** Runs one date; returns its wall time, error and captured output. */
    def run(tag: String, tracer: Option[Tracer]): Map[String, Any] = {
      val sc = spark.sparkContext
      db.tag = tag
      sc.setLocalProperty(Phase, "date")
      tracer.foreach(_.beginDate(tag, wh, Seq(in, s"$gen/info")))
      val t0 = System.nanoTime()
      val error =
        try { runner.runDate(in, tag); None }
        catch { case e: Exception => Some(s"${e.getClass.getName}: ${e.getMessage}") }
      val wall = (System.nanoTime() - t0) / 1e9
      tracer.foreach(_.endDate(wall))
      sc.setLocalProperty(Phase, "check")
      val check =
        try capture(spark, cat, Sources.parseDate(tag))
        catch { case e: Exception => Map[String, Any]("error" -> s"capture failed: $e") }
      sc.setLocalProperty(Phase, null)
      tracer.foreach(_.filesWritten(tag, wh))
      System.err.println(f"[perfbench] ${Paths.get(dir).getFileName} $tag $wall%.3f s" +
        error.fold("")(e => s" FAILED $e"))
      Map("tag" -> tag, "wall_s" -> wall, "error" -> error.orNull, "check" -> check)
    }
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val gen = a("gen"); val work = a("work")
    val incremental = a("incremental").toBoolean
    val seconds = a("seconds").toDouble
    val cores = a("cores").toInt
    Files.createDirectories(Paths.get(work))
    TabularDrops.materialize(gen)
    val dates = Sources.listUniqueDates(s"$gen/drops")

    // set-up = session start + catalog open + the first date, without the
    // benchmark's own copying and output capture
    val t0 = System.nanoTime()
    val spark = startSession(cores, work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val first = new Backlog(spark, gen, s"$work/pass1", incremental)
    val setupOp = first.run(dates.head, None)
    val setupS = sessionS + first.openS + setupOp("wall_s").asInstanceOf[Double]
    val host = HostProbes.run(spark, cores)
    System.err.println(f"[perfbench] set-up $setupS%.3f s, host probes $host")

    /** Timed passes over dates.tail until `seconds` have passed. */
    def passes(label: String, tracer: Option[Tracer],
               reuse: Option[Backlog]): (Seq[Map[String, Any]], Seq[Map[String, Any]]) = {
      val start = System.nanoTime()
      val untimed = Vector.newBuilder[Map[String, Any]]
      val timed = Vector.newBuilder[Map[String, Any]]
      var k = 0
      while (k == 0 || (k < MaxPasses && System.nanoTime() - start < seconds * 1e9)) {
        k += 1
        val b = reuse.filter(_ => k == 1).getOrElse {
          val fresh = new Backlog(spark, gen, s"$work/$label$k", incremental)
          untimed += fresh.run(dates.head, None)
          fresh
        }
        val ops = dates.tail.map(d => b.run(d, tracer))
        timed += Map("run_s" -> ops.map(_("wall_s").asInstanceOf[Double]).sum,
          "warehouse" -> b.wh, "warehouse_bytes" -> treeBytes(Paths.get(b.wh)), "ops" -> ops)
      }
      (timed.result(), untimed.result())
    }
    val (plain, plainUntimed) = passes("pass", None, Some(first))
    val (traced, tracedUntimed, trace) =
      if (a("trace") != "1") (Seq.empty, Seq.empty, Seq.empty)
      else {
        val tracer = new Tracer(spark, Thread.currentThread(), cores)
        try {
          val (t, u) = passes("traced", Some(tracer), None)
          (t, u, tracer.analyze())
        } finally tracer.close(s"$work/trace.json")
      }
    val rssMb = procStatusKb("VmHWM") / 1024.0
    spark.stop()

    Json.write(a("out"), Map(
      "setup_s" -> setupS, "host" -> host,
      "untimed_ops" -> (setupOp +: (plainUntimed ++ tracedUntimed)),
      "passes" -> plain, "traced_passes" -> traced, "trace" -> trace,
      "peak_rss_mb" -> rssMb))
  }

  def startSession(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** What a date left behind: its rep_fraud partition and the SCD2 rows. */
  def capture(spark: SparkSession, cat: TableCatalog,
              date: java.sql.Date): Map[String, Any] = {
    val report = spark.read.parquet(cat.path("rep_fraud"))
      .filter(col("report_dt") === lit(date))
      .select(date_format(col("event_dt"), "yyyy-MM-dd HH:mm:ss"), col("passport"),
        col("fio"), col("phone"), col("event_type"), col("report_dt").cast("string"))
      .collect().map(r => (0 until 6).map(r.getString)).toSeq
    // one aggregation over all eight SCD2 slices
    val slices = Dims.flatMap { t =>
      val open = cat.read(s"${t}_open").select(lit(s"open ${short(t)}").as("k"))
      val closed =
        if (!cat.exists(s"${t}_closed")) None
        else Some(spark.read.parquet(cat.path(s"${t}_closed"))
          .filter(col("effective_to") === lit(date)).select(lit(s"closed ${short(t)}").as("k")))
      open +: closed.toSeq
    }
    val counts = slices.reduce(_ unionByName _).groupBy("k").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    def of(kind: String) = Dims.map(t => short(t) -> counts.getOrElse(s"$kind ${short(t)}", 0L)).toMap
    Map("report" -> report, "open" -> of("open"), "closed" -> of("closed"))
  }

  /** dim_clients_hist → clients (the generator's names). */
  def short(dim: String): String = dim.stripPrefix("dim_").stripSuffix("_hist")

  def copyDrops(gen: String, to: String): String = {
    val src = Paths.get(gen, "drops")
    val dst = Paths.get(to)
    Files.createDirectories(dst)
    val s = Files.list(src)
    try s.iterator().asScala.foreach(p => Files.copy(p, dst.resolve(p.getFileName)))
    finally s.close()
    to
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }

  def treeBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }

  def procStatusKb(key: String): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .collectFirst { case l if l.startsWith(key + ":") =>
        l.split("\\s+")(1).toLong }.getOrElse(0L)
}
