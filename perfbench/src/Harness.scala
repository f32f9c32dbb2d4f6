package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.Timestamp
import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.DataSource
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.streaming.StreamingQuery

import graft.{GraftSession, SparkEntry}
import graft.config.{EtlConfig, WriteDisposition}
import graft.operators.TrafficTransform
import graft.pipeline.EtlPipeline
import graft.sources.Tables
import graft.sql.SqlFrontDoor
import graft.streaming.{EventsStream, TrafficStream}
import graft.streaming.EventsStream.Event

/** One benchmark run inside one JVM: start a session, warm up, wait for the
  * orchestrator's go, run `laps` laps of the workload's fixed ops
  * closed-loop (each op issued after the previous one completes),
  * optionally repeat that under the tracer, and write every op's latency
  * and output digest as JSON. Checks are made by
  * `run.py`, which owns the expected values.
  *
  * usage: Harness <spec.json> <out.json>
  */
object Harness {
  final case class Op(i: Int, name: String, latS: Double, rows: Long,
                      digest: String = "", expectRows: Long = -1)
  final case class Region(laps: Int, wallS: Double, ops: Seq[Op])

  def main(args: Array[String]): Unit = {
    val spec = new ObjectMapper().readTree(new File(args(0)))
    val work = spec.get("workdir").asText
    val cores = spec.get("cores").asInt
    // the oracle SQL of the queries this run executes, for run.py's DuckDB
    Option(spec.get("ops")).foreach { ops =>
      val qs = ops.elements.asScala.map(_.get(0).asText).toSeq.distinct
      val tmp = Paths.get(work, "oracle_sql.json.tmp")
      Files.write(tmp, qs.map(q => s"${jstr(q)}:${jstr(SparkEntry.oracleSql(q))}")
        .mkString("{", ",", "}").getBytes("UTF-8"))
      Files.move(tmp, Paths.get(work, "oracle_sql.json"), StandardCopyOption.ATOMIC_MOVE)
    }
    val t0 = System.nanoTime()
    val spark = GraftSession.builder("perfbench", s"local[$cores]", cores)
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    // graft's short format names come from its DataSourceRegister resource;
    // without it on the classpath this is not the program sbt builds
    for (f <- Seq("excel", "xlsx", "xls")) DataSource.lookupDataSource(f, SQLConf.get)
    val w: Workload = spec.get("workload").asText match {
      case "etl_batch" => new EtlBatch(spark, spec)
      case "query_mix" | "heavy_plans" => new Queries(spark, spec)
      case "stream_ingest" => new StreamIngest(spark, spec)
    }
    val w0 = System.nanoTime()
    w.warm()
    val w1 = System.nanoTime()
    settle()
    System.err.println(f"[perfbench] warm-up ${(w1 - w0) / 1e9}%.2fs settle ${(System.nanoTime() - w1) / 1e9}%.2fs")
    // set-up ends here; the orchestrator then computes its DuckDB oracle
    // while the JVM idles, and says go
    val readyMs = System.currentTimeMillis()
    val go = Paths.get(work, "go")
    touch(Paths.get(work, "ready"))
    while (!Files.exists(go)) Thread.sleep(20)
    val laps = spec.get("laps").asInt
    var next = 0
    def region(tracer: Option[Tracer]): Region = {
      val ops = mutable.ArrayBuffer.empty[Op]
      val r0 = System.nanoTime()
      for (_ <- 0 until laps * w.lapOps) {
        val op = w.op(next, tracer)
        System.err.println(f"[perfbench] op ${op.i} ${op.name} ${op.latS}%.3fs rows=${op.rows}")
        ops += op; next += 1
      }
      Region(laps, (System.nanoTime() - r0) / 1e9, ops.toSeq)
    }
    val plain = region(None)
    val traced = if (spec.get("trace").asInt == 1) {
      val tr = new Tracer(spark)
      tr.start()
      val r = region(Some(tr))
      tr.stop()
      tr.writeSpans(Paths.get(work, "spans.jsonl"))
      Some((tr, r))
    } else None
    val layers = traced.map { case (tr, r) =>
      w.layers(tr, r) ++ Map(
        "session.start_s" -> sessionS,
        "jvm.gc_s" -> tr.gcDeltaS / r.laps,
        "jvm.heap_peak_mb" -> tr.heapPeakMb,
        "trace.run_s" -> r.wallS / r.laps,
        "trace.overhead_s" -> (r.wallS / r.laps - plain.wallS / plain.laps))
    }.getOrElse(Map.empty)
    val fin = w.finish()
    val json = new StringBuilder
    json ++= s"""{"ready_ms":$readyMs,"peak_rss_mb":${peakRssMb()},"""
    json ++= s""""plain":${regionJson(plain)},"""
    traced.foreach { case (_, r) => json ++= s""""traced":${regionJson(r)},""" }
    json ++= layers.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${num(v)}""" }
      .mkString(""""layers":{""", ",", "},")
    json ++= fin.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${jstr(v)}""" }
      .mkString(""""final":{""", ",", "}}")
    Files.write(Paths.get(args(1)), json.toString.getBytes("UTF-8"))
    spark.stop()
  }

  /** Let the warm-up's garbage and JIT backlog drain before timing: a full
    * GC, then wait (at most 2 s) until a quarter second passes with under
    * 5 ms of new JIT compilation. */
  def settle(): Unit = {
    System.gc()
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    val until = System.nanoTime() + 2000000000L
    var last = jit.getTotalCompilationTime
    var quiet = false
    while (!quiet && System.nanoTime() < until) {
      Thread.sleep(250)
      val now = jit.getTotalCompilationTime
      quiet = now - last < 5
      last = now
    }
  }

  def touch(p: java.nio.file.Path): Unit = Files.write(p, Array.emptyByteArray)
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else v.toString
  def jstr(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
    .replace("\n", "\\n").replace("\r", "\\r").replace("\t", "\\t") + "\""
  def regionJson(r: Region): String =
    r.ops.map(o => s"""{"i":${o.i},"name":${jstr(o.name)},"lat":${o.latS},"rows":${o.rows},""" +
      s""""digest":${jstr(o.digest)},"expect_rows":${o.expectRows}}""")
      .mkString(s"""{"laps":${r.laps},"wall_s":${r.wallS},"ops":[""", ",", "]}")

  /** The process's peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def dirBytes(dir: File): (Long, Long) =
    if (!dir.exists) (0L, 0L)
    else Files.walk(dir.toPath).iterator.asScala.map(_.toFile)
      .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      .foldLeft((0L, 0L)) { case ((b, n), f) => (b + f.length, n + 1) }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; s(s.size / 2) }
}

object Workload {
  /** Warm-up is driver-bound (planning, code generation, JIT), so it runs
    * three ops at a time. */
  def inParallel[A](xs: Seq[A])(f: A => Any): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    val done = xs.distinct.map(x => pool.submit(new Runnable { def run(): Unit = f(x) }))
    try done.foreach(_.get()) finally pool.shutdown()
  }
}

/** A workload: a fixed lap of ops plus the per-layer metrics its traced
  * region yields. Op `i` is global across regions, so file-driven
  * workloads never repeat an output name. */
abstract class Workload(val spark: SparkSession, spec: JsonNode) {
  val work: String = spec.get("workdir").asText
  def lapOps: Int
  def warm(): Unit
  def op(i: Int, tr: Option[Tracer]): Harness.Op
  def layers(tr: Tracer, r: Harness.Region): Map[String, Double]
  def finish(): Map[String, String] = Map.empty

  /** Run `body` as span `name` when traced, tagging the Spark jobs it starts. */
  def span[T](tr: Option[Tracer], name: String, i: Int)(body: => T): T = tr match {
    case None => body
    case Some(t) =>
      spark.sparkContext.setLocalProperty(Tracer.TagKey, s"${name.takeWhile(_ != '.')}#$i")
      try t.span(name, i)(body)
      finally spark.sparkContext.setLocalProperty(Tracer.TagKey, null)
  }

  def files(key: String): Seq[(String, Long)] =
    spec.get(key).elements.asScala.map(n => (n.get("file").asText, n.get("rows").asLong)).toSeq

  /** Listener totals over every op tagged `layer#i`, per lap; the tasks'
    * input is what the sources read. */
  def taskLayers(tr: Tracer, layer: String, laps: Int, ops: Seq[Harness.Op]): Map[String, Double] = {
    val st = ops.map(o => tr.stats(s"$layer#${o.i}"))
    def sum(f: tr.TagStats => java.util.concurrent.atomic.LongAdder): Double =
      st.map(s => f(s).sum.toDouble).sum / laps
    Map(
      s"$layer.jobs" -> sum(_.jobs), s"$layer.stages" -> sum(_.stages), s"$layer.tasks" -> sum(_.tasks),
      s"$layer.task_run_s" -> sum(_.runMs) / 1e3, s"$layer.task_cpu_s" -> sum(_.cpuNs) / 1e9,
      s"$layer.gc_s" -> sum(_.gcMs) / 1e3,
      s"$layer.shuffle_write_bytes" -> sum(_.shuffleWrite), s"$layer.shuffle_read_bytes" -> sum(_.shuffleRead),
      s"$layer.spill_bytes" -> sum(_.spill),
      "sources.input_bytes" -> sum(_.inBytes), "sources.rows" -> sum(_.inRecords),
      s"$layer.task_skew" -> Harness.median(ops.map(o => tr.taskSkew(s"$layer#${o.i}"))))
  }
}

/** etl_batch: one op is one `EtlPipeline.run` over the next workbook, all
  * appending to one warehouse. */
final class EtlBatch(spark: SparkSession, spec: JsonNode) extends Workload(spark, spec) {
  private val bucket = s"$work/bucket"
  private val wbs = files("files")
  private val base = Instant.parse("2030-01-01T00:00:00Z")
  private var totalIn = 0.0 // workbook bytes fed to every timed op so far
  def lapOps: Int = wbs.size

  private def config(bucketUri: String, blob: String) =
    EtlConfig("perfbench", s"file://$bucketUri", "bench", "traffic", WriteDisposition.Append, blob)

  /** One workbook of each size in the lap, each into a bucket of its own. */
  def warm(): Unit = Workload.inParallel(wbs.distinctBy(_._2).zipWithIndex) { case ((f, _), k) =>
    val warmBucket = s"$work/warm$k"
    Files.createDirectories(Paths.get(warmBucket, "raw_data"))
    Files.copy(Paths.get(bucket, "raw_data", f), Paths.get(warmBucket, "raw_data", f))
    new EtlPipeline(spark, config(warmBucket, s"raw_data/$f")).run(base.minusSeconds(60))
  }

  def op(i: Int, tr: Option[Tracer]): Harness.Op = {
    val (f, rows) = wbs(i % wbs.size)
    totalIn += new File(s"$bucket/raw_data/$f").length
    val t0 = System.nanoTime()
    val report = span(tr, "pipeline.run", i) {
      new EtlPipeline(spark, config(bucket, s"raw_data/$f")).run(base.plusSeconds(i))
    }
    Harness.Op(i, f, (System.nanoTime() - t0) / 1e9, report.rowsLoaded, expectRows = rows)
  }

  def layers(tr: Tracer, r: Harness.Region): Map[String, Double] = {
    val laps = r.laps.toDouble
    def s(n: String) = tr.spanS(n) / laps
    val children = Seq("sources", "operators.TrafficTransform", "sinks.csv", "sinks.warehouse",
      "sinks.backup", "sinks.other").map(k => s(s"pipeline.run>$k")).sum
    val inBytes = r.ops.map(o => new File(s"$bucket/raw_data/${o.name}").length).sum / laps
    val (outBytes, outFiles) = outputs
    val allIn = totalIn
    Map(
      "pipeline.run_s" -> s("pipeline.run"),
      "pipeline.self_s" -> (s("pipeline.run") - children),
      "pipeline.jobs" -> r.ops.map(o => tr.stats(s"pipeline#${o.i}").jobs.sum).sum / laps,
      "sources.read_s" -> s("pipeline.run>sources"),
      "sources.rows" -> r.ops.map(_.rows).sum / laps,
      "sources.input_bytes" -> inBytes,
      "operators.traffic_transform_s" -> s("pipeline.run>operators.TrafficTransform"),
      "sinks.csv_s" -> s("pipeline.run>sinks.csv"),
      "sinks.warehouse_s" -> s("pipeline.run>sinks.warehouse"),
      "sinks.backup_s" -> s("pipeline.run>sinks.backup"),
      "sinks.bytes_written" -> outBytes * inBytes / allIn,
      "sinks.files_written" -> outFiles * inBytes / allIn,
      "sinks.bytes_per_input_byte" -> outBytes / allIn)
  }

  /** Bytes and files of the CSV, warehouse and backup zones so far. */
  private def outputs: (Double, Double) = {
    val zs = Seq("processed", "warehouse", "backups").map(z => Harness.dirBytes(new File(s"$bucket/$z")))
    (zs.map(_._1).sum.toDouble, zs.map(_._2).sum.toDouble)
  }
}

/** query_mix / heavy_plans: one op is one registry query, built through
  * `SparkEntry.queries(name)` ("api") or `SqlFrontDoor.run` ("sql") and
  * executed once while every output row is digested. */
final class Queries(spark: SparkSession, spec: JsonNode) extends Workload(spark, spec) {
  private val dir = spec.get("sf_dir").asText
  private val ops = spec.get("ops").elements.asScala
    .map(n => (n.get(0).asText, n.get(1).asText)).toSeq
  private var checkpoints = Map.empty[Int, Int]
  def lapOps: Int = ops.size

  /** Each op of the lap once, so code generation and the JIT are warm. */
  def warm(): Unit = {
    Workload.inParallel(ops) { case (q, path) =>
      Digest.of(if (path == "api") SparkEntry.queries(q)(spark, dir) else SqlFrontDoor.run(spark, dir, q))
    }
    release()
  }

  private def release(): Int = {
    val held = spark.sparkContext.getPersistentRDDs.values.toSeq
    held.foreach(_.unpersist(blocking = false))
    held.size
  }

  def op(i: Int, tr: Option[Tracer]): Harness.Op = {
    val (q, path) = ops(i % ops.size)
    val t0 = System.nanoTime()
    val digest =
      if (path == "api") {
        val df = span(tr, "operators.build", i)(SparkEntry.queries(q)(spark, dir))
        span(tr, "operators.exec", i)(Digest.of(df))
      } else {
        val df = span(tr, "sql.plan", i) {
          val d = SqlFrontDoor.run(spark, dir, q)
          d.queryExecution.executedPlan
          d
        }
        span(tr, "sql.exec", i)(Digest.of(df))
      }
    val lat = (System.nanoTime() - t0) / 1e9
    checkpoints += i -> release()
    Harness.Op(i, s"$q|$path", lat, digest.takeWhile(_ != ':').toLong, digest)
  }

  def layers(tr: Tracer, r: Harness.Region): Map[String, Double] = {
    val laps = r.laps.toDouble
    def sum(name: String, sel: Seq[Harness.Op]): Double =
      tr.spans.filter(s => s.name == name && sel.exists(_.i == s.op)).map(_.durNs).sum / 1e9 / laps
    val api = r.ops.filter(_.name.endsWith("|api"))
    val task = taskLayers(tr, "operators", r.laps, api)
    val scan = if (spec.get("workload").asText != "query_mix") 0.0 else {
      // a noop scan of each fixture table the mix reads
      val t0 = System.nanoTime()
      for (t <- Tables.All) {
        val df = if (t == "events") Tables.events(spark, dir) else Tables.load(spark, dir, t)
        df.write.format("noop").mode("overwrite").save()
      }
      (System.nanoTime() - t0) / 1e9
    }
    task ++ Map(
      "sources.read_s" -> (tr.spanS("operators.build>sources") + tr.spanS("sql.plan>sources")) / laps,
      "sources.scan_s" -> scan,
      "operators.build_s" -> sum("operators.build", api),
      "operators.exec_s" -> sum("operators.exec", api),
      "operators.checkpoints" -> (if (api.isEmpty) 0.0 else api.map(o => checkpoints(o.i)).sum.toDouble / api.size),
      "sql.plan_s" -> sum("sql.plan", r.ops),
      "sql.exec_s" -> sum("sql.exec", r.ops))
  }
}

/** stream_ingest: one op lands one CSV export in the raw directory and
  * drives `TrafficStream.start` (AvailableNow) to commit it to the
  * warehouse; alongside, the next slice of `events` is replayed through a
  * long-running `EventsStream.sessionize` query. Latency runs from landing
  * until both streams have committed. */
final class StreamIngest(spark: SparkSession, spec: JsonNode) extends Workload(spark, spec) {
  import spark.implicits._
  private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
  private val staged = s"$work/inputs"
  private val exports = files("files")
  private val runTs = Timestamp.valueOf("2030-01-01 00:00:00")
  private val raw = s"$work/stream/raw"
  private val warehouse = s"$work/stream/warehouse"
  private val events = Tables.events(spark, spec.get("sf_dir").asText)
    .select("event_id", "ts", "user_id", "event_type", "value").as[Event]
    .collect().sortBy(e => (e.ts.getTime, e.event_id))
  private val slice = spec.get("events_per_op").asInt
  private val input = MemoryStream[Event]
  private var sessions: StreamingQuery = _
  private var sessionsId = ""
  def lapOps: Int = spec.get("lap").asInt

  /** Slice `k` of the replayed events; each pass over the table is shifted
    * past the previous one so event time keeps advancing. */
  private def eventSlice(k: Int): Seq[Event] = {
    val n = events.length
    val spanMs = events.last.ts.getTime - events.head.ts.getTime + 3600000L
    (k * slice until (k + 1) * slice).map { j =>
      val e = events(j % n); val pass = j / n
      e.copy(event_id = e.event_id + pass.toLong * 100000000L,
        ts = new Timestamp(e.ts.getTime + pass * spanMs))
    }
  }

  private def land(src: String, dir: String, name: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    val tmp = Paths.get(s"$work/stream/.$name")
    Files.copy(Paths.get(src), tmp, StandardCopyOption.REPLACE_EXISTING)
    Files.move(tmp, Paths.get(dir, name), StandardCopyOption.ATOMIC_MOVE)
  }

  private def ingest(rawDir: String, whDir: String, ckpt: String): Long = {
    val q = TrafficStream.start(spark, rawDir, whDir, ckpt, runTs)
    q.awaitTermination()
    q.exception.foreach(e => throw e)
    q.recentProgress.map(_.numInputRows).sum
  }

  /** Four exports through a stream of their own, then the first events. */
  def warm(): Unit = {
    for ((f, _) <- exports.take(4)) {
      land(s"$staged/$f", s"$work/stream/warm_raw", f)
      ingest(s"$work/stream/warm_raw", s"$work/stream/warm_wh", s"$work/stream/warm_ckpt")
    }
    sessions = EventsStream.sessionize(input.toDS()).writeStream.format("noop")
      .outputMode("append").option("checkpointLocation", s"$work/stream/sessions_ckpt").start()
    sessionsId = sessions.id.toString
    input.addData(eventSlice(0): _*)
    sessions.processAllAvailable()
  }

  def op(i: Int, tr: Option[Tracer]): Harness.Op = {
    val (f, rows) = exports(i % exports.size)
    val t0 = System.nanoTime()
    land(s"$staged/$f", raw, f"landed_$i%05d.csv")
    val got = span(tr, "streaming.ingest", i)(ingest(raw, warehouse, s"$work/stream/ckpt"))
    span(tr, "streaming.sessionize", i) {
      input.addData(eventSlice(i + 1): _*)
      sessions.processAllAvailable()
    }
    Harness.Op(i, f, (System.nanoTime() - t0) / 1e9, got, expectRows = rows)
  }

  def layers(tr: Tracer, r: Harness.Region): Map[String, Double] = {
    val laps = r.laps.toDouble
    val ps = tr.progress.asScala.toSeq
    val traffic = ps.filter(_.queryId != sessionsId)
    val state = ps.filter(_.queryId == sessionsId).lastOption
    def total(f: tr.Progress => Long): Double = ps.map(f).sum / 1e3 / laps
    val trig = traffic.map(_.triggerMs.toDouble)
    val q = math.max(1, trig.size / 4)
    val growth = if (trig.size < 4) 1.0 else {
      val first = Harness.median(trig.take(q))
      if (first > 0) Harness.median(trig.takeRight(q)) / first else 1.0
    }
    val inBytes = r.ops.map(o => new File(s"$staged/${o.name}").length).sum / laps
    val (outBytes, outFiles) = Harness.dirBytes(new File(warehouse))
    val allIn = Harness.dirBytes(new File(raw))._1.toDouble
    Map(
      "sources.read_s" -> total(_.sourceMs),
      "sources.rows" -> r.ops.map(_.rows).sum / laps,
      "sources.input_bytes" -> inBytes,
      "streaming.trigger_s" -> total(_.triggerMs),
      "streaming.add_batch_s" -> total(_.addBatchMs),
      "streaming.plan_s" -> total(_.planMs),
      "streaming.wal_s" -> total(_.walMs),
      "streaming.state_rows" -> state.map(_.stateRows.toDouble).getOrElse(0.0),
      "streaming.state_bytes" -> state.map(_.stateBytes.toDouble).getOrElse(0.0),
      "streaming.cost_growth" -> growth,
      "sinks.bytes_written" -> outBytes * inBytes / allIn,
      "sinks.files_written" -> outFiles * inBytes / allIn,
      "sinks.bytes_per_input_byte" -> outBytes / allIn)
  }

  /** The warehouse must equal a batch `TrafficTransform` of every landed
    * file; both digests go to the orchestrator. */
  override def finish(): Map[String, String] = {
    sessions.stop()
    val landed = spark.read.schema(TrafficStream.RawSchema).option("header", "true").csv(raw)
    Map(
      "warehouse_digest" -> Digest.of(spark.read.parquet(warehouse).select("time", "traffic", "created_at")),
      "batch_digest" -> Digest.of(TrafficTransform(landed, runTs)),
      "warehouse_dir" -> warehouse)
  }
}
