package graft.perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryProgress}
import graft.ops.Dedup
import graft.queries.Registry
import graft.streaming.EventStream

/** The outcome of one workload step: latency samples (s) with the name of
  * the operation each one timed, items processed, and how many operations
  * were attempted and failed. */
final case class Step(latencies: Seq[Double], labels: Seq[String], items: Long,
    attempted: Int, failed: Int)

/** A benchmark workload over generated inputs. `step` is the unit the
  * closed loop repeats; `tr` is set only in a traced run. */
abstract class Workload(val spark: SparkSession) {
  /** Untimed warm-up; also writes to `checkDir` the results the output
    * checks compare against their oracles. */
  def warmup(checkDir: String): Unit
  def step(tr: Option[Tracer]): Step
  /** Per-layer readings that need extra, untimed work (trace only). */
  def extraLayers(tr: Tracer, checkDir: String): Map[String, Double]

  /** Catalyst phase times and final-plan exchanges of every DataFrame the
    * traced steps forced, summed per operation. */
  protected val planning = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  protected def notePlan(df: DataFrame): Unit = {
    Plans.phasesS(df).foreach { case (p, s) =>
      val key = if (p == "planning") "planning.physical_s" else s"planning.${p}_s"
      planning(key) += s
    }
    planning("planning.exchanges") += Plans.exchanges(df)
  }
  def planningLayer(ops: Int): Map[String, Double] =
    Seq("planning.analysis_s", "planning.optimization_s", "planning.physical_s",
      "planning.exchanges").map(k => k -> planning(k) / math.max(ops, 1)).toMap

  protected def span[T](tr: Option[Tracer], name: String)(body: => T): T =
    tr.fold(body)(_.span(name)(body))

  protected def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

object Workload {
  def force(df: DataFrame): Unit = df.queryExecution.toRdd.foreach(_ => ())

  /** Layer keys a workload may not exercise; they read 0 there. */
  val OptionalKeys = Seq("ops.text_pairs_s", "ops.text_pairs", "ops.cc_s", "ops.cc_jobs",
    "ops.drop_s", "ops.emb_pairs_s", "ops.join_rows_per_out") ++ StreamReplay.Keys
}
import Workload.force

/** The headline registry queries in a seed-shuffled order per pass; one
  * operation (and one step) is one query, built with `q.fn` and forced in
  * full. */
final class Interactive(spark: SparkSession, data: String, warmupQueries: Int)
    extends Workload(spark) {
  private val byName = Registry.all.map(q => q.name -> q).toMap
  private val orders: Vector[String] = {
    val src = scala.io.Source.fromFile(s"$data/query_order.txt")
    try src.getLines().flatMap(_.trim.split(" ")).filter(_.nonEmpty).toVector
    finally src.close()
  }
  private val perPass = orders.distinct.size
  private var next = 0

  /** Runs `warmupQueries` queries; the first pass of them writes each
    * query's result for the checks. */
  def warmup(checkDir: String): Unit = {
    val first = orders.take(perPass)
    first.foreach { n =>
      byName(n).fn(spark, data).write.mode(SaveMode.Overwrite).parquet(s"$checkDir/$n")
    }
    Main.Json.writeValue(new java.io.File(s"$checkDir/oracle_sql.json"),
      first.map(n => n -> byName(n).sql.getOrElse("")).toMap)
    next = perPass
    (perPass until warmupQueries).foreach(_ => step(None))
  }

  def step(tr: Option[Tracer]): Step = {
    val name = orders(next % orders.size)
    next += 1
    val t0 = System.nanoTime()
    try {
      span(tr, s"query:$name") {
        val df = span(tr, "build")(byName(name).fn(spark, data))
        span(tr, "execute")(force(df))
        if (tr.isDefined) notePlan(df)
      }
      Step(Seq(seconds(t0)), Seq(name), 1, 1, 0)
    } catch {
      case e: Exception =>
        System.err.println(s"[perfbench] $name failed: $e")
        Step(Nil, Nil, 0, 1, 1)
    }
  }

  def extraLayers(tr: Tracer, checkDir: String): Map[String, Double] =
    Kernels.measure(spark, spark.read.parquet(s"$data/documents.parquet"),
      spark.read.parquet(s"$data/embeddings.parquet"), tr)
}

/** Batch near-duplicate removal: one operation is one pass of the md5
  * MinHash-LSH text chain (pairs -> connected components -> drop) followed
  * by the embedding LSH pair pass. The traced run also replays the same
  * corpus through the streaming near-dup stage. */
final class NeardupBatch(spark: SparkSession, data: String, work: String,
    nDocs: Long, nVecs: Long, warmupPasses: Int) extends Workload(spark) {
  private val docs = spark.read.parquet(s"$data/documents")
  private val emb = spark.read.parquet(s"$data/embeddings")
  // LSH plane count tracks the corpus (bucket ~30 vectors), as in the scale benches
  private val planes = math.max(6, math.ceil(math.log(nVecs / 30.0) / math.log(2)).toInt)

  private def textPairs(): DataFrame = Dedup.minhashLshPairsMd5(
    docs, "doc_id", "text", shingleN = 3, numHashes = 16, bands = 4, threshold = 0.8)
  private def textKept(): DataFrame =
    Dedup.dropNearDuplicates(docs, "doc_id", textPairs(), "id_a", "id_b")
  private def embPairs(): DataFrame =
    Dedup.embeddingPairsLsh(emb, "vec_id", "embedding", threshold = 0.9,
      nPlanes = planes, nTables = 8)

  /** `warmupPasses` passes; the first writes its results for the checks. */
  def warmup(checkDir: String): Unit = {
    textKept().select(col("doc_id")).write.mode(SaveMode.Overwrite).parquet(s"$checkDir/kept")
    embPairs().write.mode(SaveMode.Overwrite).parquet(s"$checkDir/emb_pairs")
    (1 until warmupPasses).foreach(_ => step(None))
  }

  def step(tr: Option[Tracer]): Step = {
    val t0 = System.nanoTime()
    try {
      span(tr, "pass") {
        Seq("text" -> (() => textKept()), "emb" -> (() => embPairs())).foreach {
          case (name, build) => span(tr, name) {
            val df = span(tr, "build")(build())
            span(tr, "execute")(force(df))
            if (tr.isDefined) notePlan(df)
          }
        }
      }
      Step(Seq(seconds(t0)), Seq("pass"), nDocs + nVecs, 1, 0)
    } catch {
      case e: Exception =>
        System.err.println(s"[perfbench] neardup pass failed: $e")
        Step(Nil, Nil, 0, 1, 1)
    }
  }

  /** Each Dedup stage called and materialized on its own, the kernels, and
    * one replay of the corpus through the streaming near-dup stage. */
  def extraLayers(tr: Tracer, checkDir: String): Map[String, Double] = {
    def timed[T](name: String)(body: => T): (Double, T) = {
      val t0 = System.nanoTime()
      val r = tr.span(name)(body)
      (seconds(t0), r)
    }
    val pairs = textPairs()
    val (pairsS, nPairs) = timed("ops.text_pairs")(pairs.queryExecution.toRdd.count())
    val pairsMat = pairs.localCheckpoint()
    val (ccS, _) = timed("ops.cc")(force(
      Dedup.connectedComponents(pairsMat, "id_a", "id_b")))
    val (dropS, _) = timed("ops.drop")(force(
      Dedup.dropNearDuplicates(docs, "doc_id", pairsMat, "id_a", "id_b")))
    val ep = embPairs()
    val (embS, nEmb) = timed("ops.emb_pairs")(ep.queryExecution.toRdd.count())
    val joinRows = Plans.joinOutputRows(pairs) + Plans.joinOutputRows(ep)
    tr.drain()
    Map(
      "ops.text_pairs_s" -> pairsS, "ops.text_pairs" -> nPairs.toDouble,
      "ops.cc_s" -> ccS, "ops.cc_jobs" -> tr.jobsUnder("ops.cc").toDouble,
      "ops.drop_s" -> dropS, "ops.emb_pairs_s" -> embS,
      "ops.join_rows_per_out" -> joinRows.toDouble / math.max(nPairs + nEmb, 1L)) ++
      Kernels.measure(spark, docs, emb, tr) ++
      new StreamReplay(spark, s"$data/stream", work).measure(tr, s"$checkDir/stream_kept")
  }
}

/** The streaming near-dup stage over a staged file drop: the band-claim
  * stream (one file per micro-batch, memory sink) finished by the batch
  * `keptFromClaims`. */
final class StreamReplay(spark: SparkSession, stage: String, work: String) {
  private val schema = spark.read.parquet(stage).schema
  private var replays = 0

  /** A warm-up replay of the first few arrivals, then one traced replay of
    * all of them; returns its streaming-layer readings and writes its kept
    * set to `keptDir`. */
  def measure(tr: Tracer, keptDir: String): Map[String, Double] = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val warm = Paths.get(s"$work/stream_warmup")
    Files.createDirectories(warm)
    new java.io.File(stage).listFiles().map(_.toPath).sortBy(_.getFileName.toString)
      .take(StreamReplay.WarmupFiles).foreach(f =>
        Files.copy(f, warm.resolve(f.getFileName), StandardCopyOption.COPY_ATTRIBUTES))
    replay(warm.toString)
    val (progress, kept) = tr.span("stream.replay")(replay(stage))
    kept.write.mode(SaveMode.Overwrite).parquet(keptDir)
    StreamReplay.layer(progress)
  }

  private def replay(dir: String): (Seq[StreamingQueryProgress], DataFrame) = {
    replays += 1
    val sink = s"claims_$replays"
    val q = EventStream.nearDupBandClaims(
      EventStream.read(spark, dir, schema), "ts", "doc_id", "text",
      shingleN = 3, numHashes = 16, bands = 4)
      .writeStream.format("memory").queryName(sink)
      .option("checkpointLocation", s"$work/checkpoints/$sink")
      .outputMode(OutputMode.Append()).start()
    q.processAllAvailable()
    q.stop()
    val kept = EventStream.keptFromClaims(spark.table(sink), bands = 4)
    force(kept)
    (q.recentProgress.toSeq, kept)
  }
}

object StreamReplay {
  val WarmupFiles = 6
  val Keys = Seq("streaming.batches", "streaming.batch_p50_s", "streaming.add_batch_s",
    "streaming.planning_s", "streaming.commit_s", "streaming.state_rows",
    "streaming.state_rows_peak", "streaming.state_removed", "streaming.state_mem_mb",
    "streaming.state_commit_s")

  /** StreamingQueryProgress of one replay, summed (times, removals) or
    * peaked (state size) over its micro-batches. */
  def layer(ps: Seq[StreamingQueryProgress]): Map[String, Double] = {
    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.toDouble / 1000.0).getOrElse(0.0)
    val data = ps.filter(_.numInputRows > 0)
    val ops = ps.flatMap(_.stateOperators.headOption)
    val trig = data.map(dur(_, "triggerExecution")).sorted
    Map(
      "streaming.batches" -> data.size.toDouble,
      "streaming.batch_p50_s" -> (if (trig.isEmpty) 0.0 else trig(trig.size / 2)),
      "streaming.add_batch_s" -> ps.map(dur(_, "addBatch")).sum,
      "streaming.planning_s" -> ps.map(dur(_, "queryPlanning")).sum,
      "streaming.commit_s" -> ps.map(p => dur(p, "walCommit") + dur(p, "commitOffsets")).sum,
      "streaming.state_rows" -> ops.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "streaming.state_rows_peak" -> (0.0 +: ops.map(_.numRowsTotal.toDouble)).max,
      "streaming.state_removed" -> ops.map(_.numRowsRemoved.toDouble).sum,
      "streaming.state_mem_mb" -> (0.0 +: ops.map(_.memoryUsedBytes / 1048576.0)).max,
      "streaming.state_commit_s" -> ops.map(_.commitTimeMs / 1000.0).sum)
  }
}
