package graft.perfbench

import scala.collection.mutable
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Benchmark harness: runs one workload over generated inputs in a closed
  * loop (one driver thread, one client) for a fixed time and writes the raw
  * samples, per-layer readings and check outputs for `perfbench/run.py`.
  *
  * Arguments (all required): --workload --data --work --out --seconds
  * --trace (0|1) --cpus --rows-docs --rows-vecs --warmup (queries for
  * interactive, passes for neardup_batch) */
object Main {
  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = o("work")
    val cpus = o("cpus")
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val data = o("data")
    val wl: Workload = o("workload") match {
      case "interactive" => new Interactive(spark, data, o("warmup").toInt)
      case "neardup_batch" => new NeardupBatch(spark, data, work,
        o("rows-docs").toLong, o("rows-vecs").toLong, o("warmup").toInt)
      case w => sys.error(s"unknown workload $w")
    }
    wl.warmup(s"$work/check")
    val setupS = (System.nanoTime() - t0) / 1e9
    val seconds = o("seconds").toDouble
    val result = mutable.LinkedHashMap[String, Any]("jvm_setup_s" -> setupS,
      "spark_version" -> spark.version, "java_version" -> System.getProperty("java.version"))
    if (o("trace") == "1") {
      // half untraced, half traced: the difference is the tracing overhead
      result("untraced") = measure(wl, seconds / 2, None)
      val tr = new Tracer(spark.sparkContext)
      spark.sparkContext.addSparkListener(tr)
      val traced = measure(wl, seconds / 2, Some(tr))
      result("traced") = traced
      tr.drain()
      val ops = tr.opIds.size
      val spans = tr.allSpans
      def perOp(name: String) = spans.filter(_.name == name).map(s => s.end - s.start).sum /
        1000.0 / math.max(ops, 1)
      val layers = mutable.LinkedHashMap[String, Double]()
      layers("queries.build_s") = perOp("build")
      layers("queries.eager_jobs") = tr.jobsUnder("build").toDouble / math.max(ops, 1)
      layers ++= wl.planningLayer(ops) ++ tr.execLayer()
      Workload.OptionalKeys.foreach(k => layers(k) = 0.0)
      layers ++= wl.extraLayers(tr, s"$work/check")
      result("layers") = layers.toMap
      write(s"$work/spans.json", tr.spanRecords)
      spark.sparkContext.removeSparkListener(tr)
    } else result("untraced") = measure(wl, seconds, None)
    result("peak_rss_mb") = vmHwmMb()
    write(o("out"), result)
    spark.stop()
  }

  /** Repeat `wl.step` until `seconds` have passed; the last step runs to
    * completion. Each sample also records the share of the machine's CPU
    * time the hypervisor gave to other guests while it ran (steal). */
  private def measure(wl: Workload, seconds: Double, tr: Option[Tracer]): Map[String, Any] = {
    val t0 = System.nanoTime()
    val lat = mutable.ArrayBuffer.empty[Double]
    val labels = mutable.ArrayBuffer.empty[String]
    val steal = mutable.ArrayBuffer.empty[Double]
    var items, attempted, failed = 0L
    val first = cpuJiffies()
    while ((System.nanoTime() - t0) / 1e9 < seconds) {
      val before = cpuJiffies()
      val s = wl.step(tr)
      val after = cpuJiffies()
      lat ++= s.latencies
      labels ++= s.labels
      steal ++= s.latencies.map(_ => stealShare(before, after))
      items += s.items
      attempted += s.attempted
      failed += s.failed
    }
    Map("latencies" -> lat.toList, "labels" -> labels.toList, "steal" -> steal.toList,
      "items" -> items, "attempted" -> attempted, "failed" -> failed,
      "wall_s" -> (System.nanoTime() - t0) / 1e9, "steal_frac" -> stealShare(first, cpuJiffies()))
  }

  /** (steal, total) jiffies over all CPUs, from the first line of /proc/stat. */
  private def cpuJiffies(): (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).take(8).map(_.toLong)
      (f(7), f.sum)
    } finally src.close()
  }

  private def stealShare(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 > a._2) (b._1 - a._1).toDouble / (b._2 - a._2) else 0.0

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  private def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }

  private def write(path: String, value: Any): Unit =
    Json.writeValue(new java.io.File(path), value)

  private[perfbench] val Json = new ObjectMapper().registerModule(DefaultScalaModule)
}
