package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructType, TimestampNTZType}

import graft.{Artifacts, Pipeline, SparkEntry}
import graft.streaming.Streams

/** The benchmark's workloads. Each calls the engine only through its
  * public functions, materializes every output column (parquet write,
  * `collect()` or a streaming sink — never a bare `count()`), and checks
  * outputs outside the timed region.
  */
final class Workloads(spark: SparkSession, c: Conf, span: Tracer, srec: StreamRecorder) {
  import Workloads._

  private val sc = spark.sparkContext
  private var nextOp = 0
  private lazy val oracle: Map[String, Oracle.Expected] = Oracle.load(c.oracle)

  /** Expected values the engine computes in batch for a check; the inputs
    * are fixed, so each is computed once per build and kept in
    * `c.expect` (a properties file next to the build).
    */
  private def expect(key: String)(compute: => String): String = {
    val f = Paths.get(c.expect)
    val props = new java.util.Properties()
    if (Files.exists(f)) { val in = Files.newInputStream(f); try props.load(in) finally in.close() }
    Option(props.getProperty(key)).getOrElse {
      val v = compute
      props.setProperty(key, v)
      val o = Files.newOutputStream(f)
      try props.store(o, "perfbench expected values") finally o.close()
      v
    }
  }

  /** Runs one measured operation: `build` is the call into the engine,
    * `act` materializes what it returned. Jobs launched meanwhile are
    * tagged with the operation's id.
    */
  def op[T, R](name: String)(build: => T)(act: T => R): (Op, Option[R]) = {
    nextOp += 1
    val id = nextOp
    span.op = id
    sc.setLocalProperty("perfbench.op", id.toString)
    val m0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var mb = m0
    val res = try {
      span(name) {
        val b = span(s"build:$name")(build)
        mb = System.currentTimeMillis()
        Right(span(s"action:$name")(act(b)))
      }
    } catch { case e: Throwable => Left(e) }
    val t1 = System.nanoTime()
    val m1 = System.currentTimeMillis()
    sc.setLocalProperty("perfbench.op", null)
    span.op = 0
    res match {
      case Right(v) => (Op(id, name, t0, t1, m0, m1, mb, ok = true, correct = true), Some(v))
      case Left(e) =>
        val msg = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
        System.err.println(s"[perfbench] $name failed: $msg")
        (Op(id, name, t0, t1, m0, m1, mb, ok = false, correct = false, msg), None)
    }
  }

  /** Compares a result with the oracle digest of `name`; on a mismatch
    * the canonical rows go to `<work>/mismatch_<op>.txt` for diffing
    * against `oracle.py --lines`.
    */
  private def check(o: Op, name: String, schema: StructType, rows: Array[Row],
      checks: mutable.Buffer[(String, Boolean, String)]): Unit = {
    val got = Digest.of(schema, rows)
    val ok = oracle.get(name) match {
      case Some(e) if e.digest == got.digest => true
      case Some(e) =>
        o.note = s"digest mismatch vs oracle $name: rows ${got.rows} vs ${e.rows}, " +
          s"cols ${got.cols.mkString(",")} vs ${e.cols.mkString(",")}"
        Files.write(Paths.get(c.work, s"mismatch_${o.name}.txt"),
          Digest.canonicalLines(schema, rows).asJava)
        false
      case None => o.note = s"no oracle digest for $name"; false
    }
    o.correct &&= ok
    checks += ((s"${o.name}=oracle:$name", ok, o.note))
  }

  // ---------------------------------------------------------------- etl_batch

  /** One `graft.Pipeline.run` pass in a fresh session: the eight outputs
    * written as parquet, in the pipeline's trace order.
    */
  def etl(): Outcome = {
    val out = s"${c.work}/etl_out"
    def pass(): (Seq[Op], Double, Long) = {
      deleteTree(Paths.get(out))
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val tables = span("graft.Pipeline.run")(Pipeline.run(spark, c.data))
      val ops = EtlOutputs.map { name =>
        op(name)(tables(name))(Materialize.parquet(_, s"$out/$name"))._1
      }
      (ops, (System.nanoTime() - t0) / 1e6, startMs)
    }
    val (ops, passMs, startMs) = pass()
    Main.log(f"pass done in $passMs%.0f ms")
    val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
    val byName = ops.map(o => o.name -> o).toMap
    for ((name, q) <- Seq("journey" -> "q_journey", "funnel" -> "q_funnel",
        "dashboard" -> "q_dashboard") if byName(name).ok) {
      val df = spark.read.parquet(s"$out/$name")
      check(byName(name), q, df.schema, df.collect(), checks)
    }
    val enriched = Map(
      "marketo_leads" -> (() => graft.stages.MarketoTransform.enrich(
        Pipeline.rawLeads(spark, c.data), Pipeline.AsOfMs)),
      "frontend_analytics" -> (() => graft.stages.FrontendTransform.enrich(
        Pipeline.rawFrontendEvents(spark, c.data), Pipeline.AsOfMs)),
      "agent_turns" -> (() => graft.stages.TextAgentTransform.enrich(
        Pipeline.rawAgentTurns(spark, c.data), Pipeline.AsOfMs)))
    for ((name, keys) <- UpsertKeys if byName(name).ok) {
      val o = byName(name)
      val got = spark.read.parquet(s"$out/$name").select(keys.map(col): _*).collect()
      val distinct = got.distinct.length
      val want = expect(s"etl.$name.distinct_keys")(
        enriched(name)().select(keys.map(col): _*).distinct().count().toString).toLong
      val ok = got.length == distinct && got.length == want
      if (!ok) o.note = s"${got.length} rows, $distinct distinct keys, $want distinct input keys"
      o.correct &&= ok
      checks += ((s"$name=unique(${keys.mkString(",")})", ok, o.note))
    }
    val ms = ops.map(o => o.name -> o.ms).toMap
    val stages = Map(
      "stages.marketo_s" -> ms("marketo_leads"),
      "stages.frontend_s" -> ms("frontend_analytics"),
      "stages.textagent_s" -> ms("agent_turns"),
      "stages.kpi_s" -> (ms("session_kpis") + ms("daily_lead_metrics")),
      "stages.events_s" -> (ms("journey") + ms("funnel") + ms("dashboard")))
      .map { case (k, v) => k -> v / 1e3 }
    Outcome(ops, passMs, Seq(passMs),
      stages + ("load.bytes_written" -> treeBytes(Paths.get(out)).toDouble),
      Map("etl.pass_s" -> passMs / 1e3), checks.toSeq, startMs = startMs)
  }

  // ------------------------------------------------------------- corpus_scale

  /** One pass over the corpus kernel list, then the kNN artifact arm in
    * declaration order (build before consumers), each `collect()`ed.
    */
  def corpus(): Outcome = {
    val art = s"${c.work}/artifacts"
    val phases = Artifacts.phases(art).toMap
    val fns = CorpusQueries.map(q => q -> SparkEntry.queries(q)) ++
      ArtifactRows.map { case (a, _) => a -> phases(a) }
    def pass() = {
      deleteTree(Paths.get(art))
      val t0 = System.nanoTime()
      val done = fns.map { case (name, fn) =>
        op(name)(fn(spark, c.data))(Materialize.collect)
      }
      (done, (System.nanoTime() - t0) / 1e6)
    }
    val (done, passMs) = pass()
    Main.log(f"pass done in $passMs%.0f ms")
    val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
    val twin = ArtifactRows.toMap
    done.foreach {
      case (o, Some((schema, rows))) => check(o, twin.getOrElse(o.name, o.name), schema, rows, checks)
      case _ =>
    }
    val ops = done.map(_._1)
    val ms = ops.map(o => o.name -> o.ms).toMap
    val named = CorpusQueries.map(q => s"corpus.${q}_s" -> ms.getOrElse(q, 0.0) / 1e3).toMap +
      ("corpus.pass_s" -> passMs / 1e3)
    val arts = ops.filter(_.name.startsWith("art_"))
    Outcome(ops, passMs, Seq(passMs),
      (named - "corpus.pass_s") ++ Map(
        "art.build_s" -> arts.filter(_.name.endsWith("_build")).map(_.ms).sum / 1e3,
        "art.consume_s" -> arts.filterNot(_.name.endsWith("_build")).map(_.ms).sum / 1e3),
      named, checks.toSeq)
  }

  // ------------------------------------------------------------ stream_ingest

  /** Open loop over a watched directory. Staged event files (split in ts
    * order by the seed) are moved in by one generator thread: a few
    * warm-up files, then one file every `seconds / scheduled` on a fixed
    * schedule, then the backlog all at once. Under test:
    * eventStream → dedupStream → upsertSink (last-write-wins by user_id),
    * with sessionStateStream over the same stream.
    */
  def stream(): Outcome = {
    val root = Paths.get(c.work, "stream")
    deleteTree(root)
    deleteTree(Paths.get(c.work, "checkpoints"))
    val watch = Files.createDirectories(root.resolve("in"))
    val state = root.resolve("state").toString
    val stage = Paths.get(c.data).resolveSibling(s"stream_${c.seed}")
    val files = Files.list(stage).iterator().asScala.toSeq.sortBy(_.getFileName.toString)
    def kind(k: String) = files.filter { f =>
      val n = f.getFileName.toString
      n.startsWith(k) && n.endsWith(".parquet")
    }
    val (warm, sched, backlog) = (kind("w"), kind("s"), kind("b"))
    spark.streams.addListener(srec)
    sc.setLocalProperty("perfbench.op", StreamOp.toString)
    span.op = StreamOp
    move(warm.head, watch)

    val sessions = new ConcurrentHashMap[Long, Row]()
    val events = span("graft.streaming.Streams.eventStream")(
      Streams.eventStream(spark, watch.toString))
    val upsert = span("graft.streaming.Streams.upsertSink")(Streams.upsertSink(
      span("graft.streaming.Streams.dedupStream")(Streams.dedupStream(events)),
      state, Seq("user_id"), "event_id"))
    val sessionDf = span("graft.streaming.Streams.sessionStateStream")(
      Streams.sessionStateStream(events, ttl = false)(spark)).toDF()
    val session = sessionDf.writeStream.outputMode("update").queryName("session_state")
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.collect().foreach(r => sessions.put(r.getAs[Long]("userId"), r))
      }.start()
    val queries = Seq(upsert, session)
    queries.foreach(_.processAllAvailable())
    warm.tail.foreach { f => move(f, watch); queries.foreach(_.processAllAvailable()) }
    Main.log("stream warm-up done")

    // open loop: drops are due on a fixed grid, lateness is recorded
    val interval = c.seconds * 1e9 / sched.size
    val due = mutable.ArrayBuffer.empty[(Path, Long, Long)] // file, due, dropped (epoch ns)
    val epochNs = () => System.currentTimeMillis() * 1000000L
    val schedStartMs = System.currentTimeMillis()
    val gen = new Thread(() => {
      val start = System.nanoTime() + 100000000L
      val base = epochNs() + 100000000L
      sched.zipWithIndex.foreach { case (f, i) =>
        val at = start + (i * interval).toLong
        val wait = at - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        move(f, watch)
        due += ((f, base + (i * interval).toLong, base + (System.nanoTime() - start)))
      }
    }, "perfbench-generator")
    gen.start()
    gen.join()
    queries.foreach(_.processAllAvailable())
    val backlogAt = System.currentTimeMillis()
    backlog.foreach(f => move(f, watch))
    queries.foreach(_.processAllAvailable())
    queries.foreach(_.stop())
    sc.setLocalProperty("perfbench.op", null)
    span.op = 0
    org.apache.spark.perfbench.Bus.drain(sc)
    Main.log("stream drained")

    // file -> (query -> end of the first micro-batch that read it)
    val progress = srec.progress.asScala.toSeq
    val batchEnd: Map[(String, Long), Long] = progress.map { p =>
      (p.id.toString, p.batchId) ->
        (java.time.Instant.parse(p.timestamp).toEpochMilli + p.durationMs.get("triggerExecution").longValue)
    }.toMap
    val fileBatch = StreamLog.fileBatches(Paths.get(c.work, "checkpoints"))
    val qids = queries.map(_.id.toString)
    def doneAt(f: Path): Option[Long] = {
      val ends = qids.map(q => fileBatch.get((q, f.getFileName.toString))
        .flatMap(b => batchEnd.get((q, b))))
      if (ends.forall(_.isDefined)) Some(ends.flatten.max) else None
    }
    val ops = mutable.ArrayBuffer.empty[Op]
    val lat = mutable.ArrayBuffer.empty[Double]
    due.foreach { case (f, dueNs, dropNs) =>
      val d = doneAt(f)
      val ms = d.map(_ - dueNs / 1e6).getOrElse(0.0)
      d.foreach(_ => lat += ms)
      ops += Op(ops.size + 1, f.getFileName.toString, dueNs, dueNs + (ms * 1e6).toLong,
        dueNs / 1000000L, d.getOrElse(0L), dueNs / 1000000L, ok = d.isDefined, correct = true,
        if (d.isEmpty) "never read" else "")
    }
    val backlogEnds = backlog.map(doneAt)
    backlog.zip(backlogEnds).foreach { case (f, d) =>
      ops += Op(ops.size + 1, f.getFileName.toString, backlogAt * 1000000L,
        d.getOrElse(backlogAt) * 1000000L, backlogAt, d.getOrElse(0L), backlogAt,
        ok = d.isDefined, correct = true, if (d.isEmpty) "never read" else "")
    }
    val drainMs = (backlogEnds.flatten.maxOption.getOrElse(backlogAt) - backlogAt).toDouble

    // checks: the sink tables against the same rows in batch
    val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
    lazy val all = {
      val raw = spark.read.parquet(watch.toString)
      if (raw.schema("ts").dataType == TimestampNTZType)
        raw.withColumn("ts", col("ts").cast("timestamp")) else raw
    }
    val stateDf = spark.read.parquet(state)
    val stateRows = stateDf.collect()
    val wantUpsert = expect("stream.upsert_digest") {
      val w = graft.stages.Upsert.lastWriteWins(all, Seq("user_id"), Seq(col("event_id").desc))
      Digest.of(w.schema, w.collect()).digest
    }
    val upOk = Digest.of(stateDf.schema, stateRows).digest == wantUpsert
    checks += (("upsertSink=Upsert.lastWriteWins(batch)", upOk, ""))
    val wantSessions = expect("stream.session_digest") {
      val agg = all.groupBy("user_id").agg(count(lit(1)), sum("value"), max("event_id"),
        max(unix_millis(col("ts"))), max_by(col("event_type"), col("event_id"))).collect()
      sessionDigest(agg.map(r => Row(r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3),
        r.getLong(4), r.getString(5))))
    }
    val gotSessions = sessionDigest(sessions.values.asScala.toArray.map(r => Row(
      r.getAs[Long]("userId"), r.getAs[Long]("totalTurns"), r.getAs[Double]("totalValue"),
      r.getAs[Long]("seq"), r.getAs[Long]("lastActivityMs"), r.getAs[String]("lastEventType"))))
    val sessOk = gotSessions == wantSessions
    checks += (("sessionStateStream=per-user batch aggregate", sessOk,
      if (sessOk) "" else s"${sessions.size} users in state"))
    if (!upOk || !sessOk) ops.foreach(_.correct = false)
    val rowCount = Files.readAllLines(stage.resolve("rows.txt")).asScala
      .map(_.split(' ')).map(a => a(0) -> a(1).toDouble).toMap
    val backlogRows = backlog.map(f => rowCount(f.getFileName.toString)).sum

    // per-layer: micro-batch progress
    val byQuery = progress.groupBy(_.id.toString)
    val batches = progress.filter(p =>
      java.time.Instant.parse(p.timestamp).toEpochMilli >= schedStartMs)
    def dur(k: String) = batches.map(p => Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L).toDouble)
    val stateOps = batches.flatMap(_.stateOperators)
    val lastState = byQuery.values.flatMap(_.lastOption).flatMap(_.stateOperators)
    val waiting = {
      // files dropped but not yet read by every query, over time
      val drops = due.map(d => d._3 / 1000000L) ++ backlog.map(_ => backlogAt)
      val reads = (due.map(_._1) ++ backlog).map(f => qids.flatMap(q =>
        fileBatch.get((q, f.getFileName.toString)).flatMap(b =>
          progress.find(p => p.id.toString == q && p.batchId == b))
          .map(p => java.time.Instant.parse(p.timestamp).toEpochMilli)).maxOption.getOrElse(Long.MaxValue))
      val ev = drops.map(_ -> 1) ++ reads.filter(_ != Long.MaxValue).map(_ -> -1)
      ev.sortBy(e => (e._1, e._2)).scanLeft(0)(_ + _._2).max
    }
    val perLayer = Map(
      "stream.batches" -> batches.size.toDouble,
      "stream.batch_p50_ms" -> Main.median(dur("triggerExecution")),
      "stream.add_batch_ms" -> Main.median(dur("addBatch")),
      "stream.plan_ms" -> Main.median(dur("queryPlanning")),
      "stream.commit_ms" -> Main.median(dur("walCommit").zip(dur("commitOffsets")).map(p => p._1 + p._2)),
      "stream.state_rows" -> lastState.map(_.numRowsTotal.toDouble).sum,
      "stream.state_mem_bytes" -> lastState.map(_.memoryUsedBytes.toDouble).sum,
      "stream.state_commit_ms" -> Main.median(stateOps.map(_.commitTimeMs.toDouble)),
      "stream.upsert_state_rows" -> stateRows.length.toDouble,
      "stream.backlog_max_files" -> waiting.toDouble,
      "stream.gen_late_ms" -> due.map(d => (d._3 - d._2) / 1e6).maxOption.getOrElse(0.0),
      "stream.empty_batch_frac" ->
        (if (batches.isEmpty) 0.0 else batches.count(_.numInputRows == 0).toDouble / batches.size),
      "stream.drain_eps" -> backlogRows / (drainMs / 1e3).max(1e-3))
    if (span.enabled) progress.foreach { p =>
      val s = java.time.Instant.parse(p.timestamp).toEpochMilli
      val e = s + p.durationMs.get("triggerExecution").longValue
      span.add(Span(span.newId(), 0, StreamOp, s"microbatch:${Option(p.name).getOrElse("upsertSink")}",
        s * 1000000L, e * 1000000L))
    }
    Outcome(ops.toSeq, drainMs, lat.toSeq, perLayer,
      Map("stream.lat_p50_ms" -> Main.quantile(lat.sorted.toSeq, 0.5),
        "stream.lat_p90_ms" -> Main.quantile(lat.sorted.toSeq, 0.9),
        "stream.drain_eps" -> perLayer("stream.drain_eps")), checks.toSeq, Set(StreamOp))
  }

}

object Workloads {
  val StreamOp = 1

  /** Per-user session state, the value sum rounded to 6 decimals (the
    * stream folds it in event order, the batch aggregate in any order).
    */
  def sessionDigest(rows: Array[Row]): String = Digest.of(
    org.apache.spark.sql.types.StructType.fromDDL(
      "user_id BIGINT, n BIGINT, v DOUBLE, seq BIGINT, last BIGINT, et STRING"),
    rows.map(r => Row(r.get(0), r.get(1),
      new java.math.BigDecimal(r.getDouble(2)).setScale(6, java.math.RoundingMode.HALF_EVEN)
        .doubleValue, r.get(3), r.get(4), r.get(5)))).digest

  val EtlOutputs: Seq[String] = Seq("marketo_leads", "frontend_analytics", "agent_turns",
    "session_kpis", "daily_lead_metrics", "journey", "funnel", "dashboard")
  val UpsertKeys: Seq[(String, Seq[String])] = Seq(
    "marketo_leads" -> Seq("lead_id"),
    "frontend_analytics" -> Seq("session_id", "timestamp", "event_type"),
    "agent_turns" -> Seq("session_id", "turn_id"))

  val CorpusQueries: Seq[String] = Seq("q_containment_lsh", "q_dup_clusters_lsh",
    "q_knn_graph", "q_dbscan", "q_bt_rating")
  /** Artifact rows and the registry query each must equal. */
  val ArtifactRows: Seq[(String, String)] = Seq(
    "art_knn_graph_build" -> "q_knn_graph",
    "art_pagerank" -> "q_pagerank",
    "art_triangle_count" -> "q_triangle_count",
    "art_lof_scores" -> "q_lof_scores")

  /** Every registry query whose DuckDB oracle the benchmark compares with. */
  val OracleNames: Seq[String] = (Seq("q_journey", "q_funnel", "q_dashboard") ++
    CorpusQueries ++ ArtifactRows.map(_._2)).distinct

  def move(f: Path, dir: Path): Unit =
    Files.move(f, dir.resolve(f.getFileName), StandardCopyOption.ATOMIC_MOVE)

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  def treeBytes(p: Path): Long =
    Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
}

/** Reads which micro-batch first listed each file, from the file-source
  * metadata log in every query's checkpoint (`sources/0/<batch>` and its
  * compacted `<batch>.compact` form, JSON lines after a version line).
  */
object StreamLog {
  private val Entry = """"path":"([^"]*)".*"batchId":(\d+)""".r

  def fileBatches(ckptRoot: Path): Map[(String, String), Long] = {
    if (!Files.isDirectory(ckptRoot)) return Map.empty
    val out = mutable.Map.empty[(String, String), Long]
    Files.list(ckptRoot).iterator().asScala.foreach { q =>
      val meta = q.resolve("metadata")
      val src = q.resolve("sources").resolve("0")
      if (Files.exists(meta) && Files.isDirectory(src)) {
        val id = """"id":"([^"]+)"""".r.findFirstMatchIn(Files.readString(meta)).map(_.group(1)).get
        Files.list(src).iterator().asScala.filterNot(_.getFileName.toString.startsWith("."))
          .foreach { f =>
            Files.readAllLines(f).asScala.foreach { line =>
              Entry.findFirstMatchIn(line).foreach { m =>
                val name = m.group(1).split('/').last
                val b = m.group(2).toLong
                out((id, name)) = out.get((id, name)).fold(b)(math.min(_, b))
              }
            }
          }
      }
    }
    out.toMap
  }
}

/** How the workloads materialize an operation's output. */
object Materialize {
  def collect(df: DataFrame): (StructType, Array[Row]) = (df.schema, df.collect())

  def parquet(df: DataFrame, path: String): Unit = df.write.mode("overwrite").parquet(path)
}
