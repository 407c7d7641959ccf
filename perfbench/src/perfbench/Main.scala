package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One measured operation. `ok` is false when it threw; `correct` is false
  * when its output failed a check.
  */
final case class Op(id: Int, name: String, startNs: Long, endNs: Long,
    startMs: Long, endMs: Long, buildEndMs: Long, ok: Boolean, var correct: Boolean,
    var note: String = "") {
  def ms: Double = (endNs - startNs) / 1e6
}

/** What a workload hands back: its operations, the end-to-end figures it
  * defines, extra per-layer figures, and the checks it ran.
  */
final case class Outcome(ops: Seq[Op], passMs: Double, opLatMs: Seq[Double],
    perLayer: Map[String, Double], named: Map[String, Double],
    checks: Seq[(String, Boolean, String)], jobOps: Set[Int] = Set.empty, startMs: Long = 0L)

final case class Conf(workload: String, seed: Long, seconds: Int, trace: Boolean,
    data: String, work: String, out: String, oracle: String, expect: String)

/** Benchmark harness entry point: sets up a local Spark session (three
  * times, for a steady `setup_s`), runs one workload, checks its outputs
  * and writes every metric to a JSON file.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *       --data DIR --work DIR --out FILE --oracle FILE
  *   perfbench.Main --dump-oracle-sql FILE
  */
object Main {
  val Cpus: Int = Runtime.getRuntime.availableProcessors()

  private lazy val t0 = ManagementFactory.getRuntimeMXBean.getStartTime

  /** Progress line in the run log, stamped with seconds since JVM start. */
  def log(msg: String): Unit =
    println(f"[perfbench ${(System.currentTimeMillis() - t0) / 1e3}%7.2f s] $msg")

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    kv.get("dump-oracle-sql") match {
      case Some(f) => Oracle.dumpSql(f); return
      case None =>
    }
    if (kv.contains("selftest")) {
      val c = Conf("selftest", 0L, 0, trace = false, kv("data"), kv("work"), "", "", "")
      val spark = session(c)
      val ok = Selftest.run(spark, c.data, c.work)
      spark.stop()
      if (!ok) sys.exit(1)
      return
    }
    val c = Conf(kv("workload"), kv("seed").toLong, kv("seconds").toInt, kv("trace") == "1",
      kv("data"), kv("work"), kv("out"), kv("oracle"), kv("expect"))
    Files.createDirectories(Paths.get(c.work))
    val heap = new HeapWatch
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val setups = mutable.ArrayBuffer.empty[Double]
    var spark = session(c)
    setups += (System.currentTimeMillis() - jvmStart) / 1e3
    for (_ <- 1 to 2) {
      spark.stop()
      val t0 = System.nanoTime()
      spark = session(c)
      setups += (System.nanoTime() - t0) / 1e9
    }
    val tracer = new Tracer(c.trace)
    val rec = new Recorder
    val srec = new StreamRecorder
    if (c.trace) {
      spark.sparkContext.addSparkListener(rec)
      spark.listenerManager.register(rec)
    }
    log(s"setups ${setups.mkString(" ")}")
    val gc0 = gcTotals()
    heap.reset()
    val w = new Workloads(spark, c, tracer, srec)
    val outcome = c.workload match {
      case "etl_batch" => w.etl()
      case "corpus_scale" => w.corpus()
      case "stream_ingest" => w.stream()
      case other => sys.error(s"unknown workload $other")
    }
    log("workload done")
    val gc1 = gcTotals()
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    val layers = if (c.trace) Layers.of(outcome, rec, tracer) else Map.empty[String, Double]
    val failed = outcome.ops.count(o => !o.ok || !o.correct)
    val lat = outcome.opLatMs.sorted
    val e2e = Map(
      "setup_s" -> median(setups.toSeq),
      "op_p50_ms" -> quantile(lat, 0.5),
      "op_p90_ms" -> quantile(lat, 0.9))
    val jvm = Map(
      "jvm.gc_ms" -> (gc1._1 - gc0._1).toDouble,
      "jvm.gc_count" -> (gc1._2 - gc0._2).toDouble,
      "jvm.setup_cold_s" -> setups.head,
      "jvm.heap_peak_mb" -> heap.peakMb,
      "trace.op_p50_ms" -> quantile(lat, 0.5),
      "trace.wall_ms" -> outcome.passMs)
    val checks = outcome.checks
    val json = Json.obj(
      "workload" -> Json.str(c.workload),
      "seed" -> c.seed.toString,
      "trace" -> (if (c.trace) "true" else "false"),
      "attempted" -> outcome.ops.size.toString,
      "failed" -> failed.toString,
      "correct" -> (if (failed == 0 && checks.forall(_._2)) "true" else "false"),
      "setups_s" -> setups.map(Json.num).mkString("[", ",", "]"),
      "e2e" -> Json.nums(e2e),
      "named" -> Json.nums(outcome.named),
      "per_layer" -> Json.nums(if (!c.trace) Map.empty
        else Layers.WorkloadKeys.map(_ -> 0.0).toMap ++ layers ++ jvm ++ outcome.perLayer),
      "checks" -> checks.map { case (n, ok, msg) =>
        Json.obj("name" -> Json.str(n), "ok" -> ok.toString, "detail" -> Json.str(msg))
      }.mkString("[", ",", "]"),
      "ops" -> outcome.ops.map(o => Json.obj("name" -> Json.str(o.name),
        "ms" -> Json.num(o.ms), "ok" -> o.ok.toString, "correct" -> o.correct.toString,
        "note" -> Json.str(o.note))).mkString("[", ",", "]"))
    Files.writeString(Paths.get(c.out), json + "\n")
    if (c.trace) Files.writeString(Paths.get(c.out.stripSuffix(".json") + "_trace.json"),
      Layers.traceJson(tracer, outcome) + "\n")
    log("results written")
    spark.stop()
  }

  /** The engine's session, configured as graft.Bench configures it. */
  def session(c: Conf): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cpus]")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "524288")
      .config("spark.cleaner.periodicGC.interval", "60s")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${c.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${c.work}/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"${c.work}/checkpoints")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    // one small aggregate over each of four input tables: session, scan
    // path and codegen are live before anything is timed
    for (t <- Seq("customer", "events", "documents", "embeddings"))
      s.read.parquet(s"${c.data}/$t.parquet").selectExpr("count(*)").collect()
    s
  }

  private def gcTotals(): (Long, Long) = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (gcs.map(_.getCollectionTime.max(0L)).sum, gcs.map(_.getCollectionCount.max(0L)).sum)
  }

  def median(xs: Seq[Double]): Double = quantile(xs.sorted, 0.5)

  /** Linear-interpolated quantile of sorted values (numpy's default). */
  def quantile(sorted: Seq[Double], q: Double): Double =
    if (sorted.isEmpty) 0.0
    else {
      val pos = q * (sorted.size - 1)
      val lo = pos.floor.toInt
      val hi = pos.ceil.toInt
      sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
    }
}

/** Peak heap occupancy right after a collection, from GC notifications. */
final class HeapWatch {
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import com.sun.management.GarbageCollectionNotificationInfo
  @volatile private var peak = 0L
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  def reset(): Unit = peak = 0L
  def peakMb: Double = {
    val now = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    (if (peak > 0) peak else now) / 1048576.0
  }
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        if (used > peak) peak = used
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }
}

object Json {
  def str(s: String): String = Digest.str(s)
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def nums(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => str(k) + ":" + num(v) }.mkString("{", ",", "}")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
