package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Turns the generator's tabular CSVs (`tabular_src/`) into the `.xlsx`
  * drops the batch reads, through the program's own writer. Zip entry
  * times are pinned so the same seed gives byte-identical files. */
object TabularDrops {
  private val sheets = Map("terminals" -> "terminals", "passport_blacklist" -> "blacklist")

  def materialize(gen: String): Unit = {
    val src = Paths.get(gen, "tabular_src")
    val done = Paths.get(gen, "xlsx.done")
    if (!Files.isDirectory(src) || Files.exists(done)) return
    val s = Files.list(src)
    val csvs = try s.iterator().asScala.toSeq.sortBy(_.toString) finally s.close()
    csvs.foreach { p =>
      val base = p.getFileName.toString.stripSuffix(".csv")
      val sheet = sheets(base.replaceAll("_\\d{8}$", ""))
      val rows = Files.readAllLines(p).asScala.map(_.split(",", -1).toSeq).toSeq
      val out = Paths.get(gen, "drops", s"$base.xlsx")
      graft.io.Xlsx.writeSheet(out.toString, sheet, rows)
      pinZipTimes(out)
    }
    Files.write(done, Array.emptyByteArray)
  }

  private def pinZipTimes(p: java.nio.file.Path): Unit = {
    import java.util.zip.{ZipEntry, ZipFile, ZipOutputStream}
    val entries = {
      val z = new ZipFile(p.toFile)
      try z.entries().asScala.toList.map(e => e.getName -> z.getInputStream(e).readAllBytes())
      finally z.close()
    }
    val zos = new ZipOutputStream(Files.newOutputStream(p))
    try entries.foreach { case (name, bytes) =>
      val e = new ZipEntry(name)
      e.setTimeLocal(java.time.LocalDateTime.of(1980, 1, 1, 0, 0))
      zos.putNextEntry(e); zos.write(bytes); zos.closeEntry()
    } finally zos.close()
  }
}

/** Fixed work whose time tells a slow host from a slow change: a pure-CPU
  * loop on the driver and a small shuffle through the session. Each is the
  * median of three timings. */
object HostProbes {
  @volatile private var sink = 0L
  def run(spark: SparkSession, cores: Int): Map[String, Double] = {
    def median3(f: => Unit): Double = {
      val ts = (1 to 3).map { _ => val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
      ts.sorted.apply(1)
    }
    val cpu = median3 {
      var x = 88172645463325252L
      var ones = 0L
      var i = 0
      while (i < 50000000) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17; ones += x & 1; i += 1
      }
      sink = ones
    }
    spark.sparkContext.setLocalProperty(BatchBench.Phase, "probe")
    val shuffle = median3 {
      spark.range(0, 1000000, 1, cores).groupBy((col("id") % 997).as("k"))
        .count().collect()
    }
    spark.sparkContext.setLocalProperty(BatchBench.Phase, null)
    Map("ctrl_cpu_s" -> cpu, "ctrl_shuffle_s" -> shuffle)
  }
}

/** The benchmark's JSON records, through the Jackson that ships with Spark. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def write(path: String, v: Any): Unit = mapper.writeValue(new java.io.File(path), v)
}
