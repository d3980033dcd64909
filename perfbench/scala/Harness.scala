package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** JSON rendering for the flat records this harness writes. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.asInstanceOf[Map[String, Any]])
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(m: Map[String, Any]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}

/** Wall clock with microsecond resolution, on the same epoch as the
  * millisecond timestamps Spark's listener events carry.
  */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** In-memory span store. Spans are recorded only while `enabled`; the
  * listener below stays registered but drops events when it is off, so
  * a run can interleave traced and untraced operations.
  *
  * Span ids are strings: `h<n>` for the harness's own spans, `x<n>` for
  * SQL executions, `j<n>` for jobs, `s<n>.<attempt>` for stages. Every
  * span names its parent, so the trace summarizer needs no timing
  * heuristics to place it.
  */
object Tracer {
  @volatile var enabled = false
  /** Set once the session exists; harness spans become job tags on it. */
  @volatile var sc: org.apache.spark.SparkContext = null
  val TagPrefix = "perfbench-span-"
  val DrainTag = "perfbench-drain"
  private[perfbench] val drained = new java.util.concurrent.CountDownLatch(1)
  private val ids = new AtomicLong(0)
  private val spans = ArrayBuffer[Map[String, Any]]()

  def record(id: String, parent: String, name: String, startMs: Double, endMs: Double,
             attrs: Map[String, Any] = Map.empty): Unit =
    if (enabled) spans.synchronized {
      spans += Map("id" -> id, "parent" -> parent, "name" -> name,
        "start_ms" -> startMs, "end_ms" -> endMs) ++ attrs
    }

  /** Times `body` as a span; the body receives the span's id so nested
    * spans can name it as their parent. While a traced body runs, the
    * span's id is a job tag of this thread, so the jobs and SQL
    * executions the body starts carry it to the listener. Returns the
    * body's value and the span's duration in seconds.
    */
  def span[T](name: String, parent: String, attrs: Map[String, Any] = Map.empty)
             (body: String => T): (T, Double) = {
    val id = s"h${ids.incrementAndGet()}"
    val tag = if (enabled && sc != null) TagPrefix + id else null
    if (tag != null) sc.addJobTag(tag)
    val t0 = Clock.nowMs
    val out = try body(id) finally if (tag != null) sc.removeJobTag(tag)
    val t1 = Clock.nowMs
    record(id, parent, name, t0, t1, attrs)
    (out, (t1 - t0) / 1e3)
  }

  /** The innermost harness span among a job's or execution's tags: the
    * one started last, so the one with the largest id.
    */
  def innermost(tags: Iterable[String]): String =
    tags.filter(_.startsWith(TagPrefix + "h")).map(_.drop(TagPrefix.length + 1).toLong)
      .maxOption.map(n => s"h$n").orNull

  /** Ends recording once the listener has seen every event posted so far.
    * The listener bus delivers events in order, so a marker job's end
    * comes after the events of everything that ran before it.
    */
  def stop(): Unit = if (enabled) {
    sc.addJobTag(DrainTag)
    try sc.parallelize(Seq(1), 1).count() finally sc.removeJobTag(DrainTag)
    drained.await(60, java.util.concurrent.TimeUnit.SECONDS)
    enabled = false
  }

  def dump(path: String): Unit = spans.synchronized {
    Files.write(Paths.get(path), spans.map(Json.obj).asJava)
  }
}

/** Spark-side spans from one SparkListener: SQL executions (with their
  * Catalyst phases from `QueryPlanningTracker` and their file-scan
  * counts), jobs and stages. An execution's parent is the innermost
  * harness span among its job tags; a job's parent is its execution,
  * else the innermost harness span; a stage's parent is its job. Times
  * are the events' own.
  */
class TraceListener(sinkRoots: Seq[String]) extends SparkListener with AdaptiveSparkPlanHelper {
  import java.util.concurrent.ConcurrentHashMap

  private case class TaskAgg(durations: ArrayBuffer[Double] = ArrayBuffer(),
                             var runS: Double = 0, var gcS: Double = 0,
                             var shuffleWrite: Long = 0, var shuffleRead: Long = 0,
                             var spill: Long = 0)
  private val tasks = new ConcurrentHashMap[(Int, Int), TaskAgg]()
  private val jobs = new ConcurrentHashMap[Int, (Double, String, Int)]()
  private val stageJob = new ConcurrentHashMap[Int, String]()
  private val executions = new ConcurrentHashMap[Long, (Double, String)]()
  private val drainJobs = ConcurrentHashMap.newKeySet[Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (Tracer.enabled) {
      val props = Option(e.properties)
      val tags = props.flatMap(p => Option(p.getProperty("spark.job.tags"))).toSeq.flatMap(_.split(","))
      if (tags.contains(Tracer.DrainTag)) drainJobs.add(e.jobId)
      else {
        val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
        val parent = exec.filter(executions.containsKey).map(x => s"x$x").getOrElse(Tracer.innermost(tags))
        jobs.put(e.jobId, (e.time.toDouble, parent, e.stageInfos.size))
        e.stageIds.foreach(stageJob.put(_, s"j${e.jobId}"))
      }
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    if (drainJobs.remove(e.jobId)) Tracer.drained.countDown()
    Option(jobs.remove(e.jobId)).foreach { case (start, parent, nStages) =>
      Tracer.record(s"j${e.jobId}", parent, "exec.job", start, e.time.toDouble, Map("stages" -> nStages))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (Tracer.enabled && e.taskInfo != null && stageJob.containsKey(e.stageId)) {
      val agg = tasks.computeIfAbsent((e.stageId, e.stageAttemptId), _ => TaskAgg())
      agg.synchronized {
        agg.durations += e.taskInfo.duration / 1e3
        val m = e.taskMetrics
        if (m != null) {
          agg.runS += m.executorRunTime / 1e3
          agg.gcS += m.jvmGCTime / 1e3
          agg.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          agg.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          agg.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val agg = Option(tasks.remove((si.stageId, si.attemptNumber()))).getOrElse(TaskAgg())
    Option(stageJob.get(si.stageId)).foreach { job =>
      val sorted = agg.durations.sorted
      val median = if (sorted.isEmpty) 0.0 else sorted(sorted.size / 2)
      val skew = if (sorted.size < 2 || median <= 0) 1.0 else sorted.last / median
      val start = si.submissionTime.getOrElse(0L).toDouble
      val end = si.completionTime.map(_.toDouble).getOrElse(start)
      Tracer.record(s"s${si.stageId}.${si.attemptNumber()}", job, "exec.stage", start, end, Map(
        "tasks" -> sorted.size, "task_s" -> agg.runS, "task_skew" -> skew,
        "gc_s" -> agg.gcS, "shuffle_write_bytes" -> agg.shuffleWrite,
        "shuffle_read_bytes" -> agg.shuffleRead, "spill_bytes" -> agg.spill))
    }
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart if Tracer.enabled =>
      executions.put(e.executionId, (e.time.toDouble, Tracer.innermost(e.jobTags)))
    case e: SparkListenerSQLExecutionEnd =>
      Option(executions.remove(e.executionId)).foreach { case (start, parent) => execution(e, start, parent) }
    case _ =>
  }

  /** An execution's span: from the start of its action (the end minus the
    * action's duration, so planning done for the action is inside) to its
    * end, with its Catalyst phases as child spans and its scan counts.
    */
  private def execution(e: SparkListenerSQLExecutionEnd, startMs: Double, parent: String): Unit = {
    val id = s"x${e.executionId}"
    val end = e.time.toDouble
    // The action's QueryExecution and duration (ns) are private to Spark's
    // sql package in Scala; their accessors are public in bytecode.
    def field[T](name: String): T = e.getClass.getMethod(name).invoke(e).asInstanceOf[T]
    val qe = field[QueryExecution]("qe")
    val durationNs = field[Long]("duration")
    val start = if (durationNs > 0) math.min(startMs, end - durationNs / 1e6) else startMs
    var scanRows, scanBytes, sinkRows, sinkBytes = 0L
    if (qe != null) {
      qe.tracker.phases.foreach { case (p, s) =>
        Tracer.record(s"$id.$p", id, s"catalyst.$p", s.startTimeMs.toDouble, s.endTimeMs.toDouble)
      }
      scans(qe.executedPlan).foreach { s =>
        val rows = s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
        val bytes = s.metrics.get("filesSize").map(_.value).getOrElse(0L)
        val roots = s.relation.location.rootPaths.map(_.toUri.getPath)
        if (roots.exists(r => sinkRoots.exists(r.startsWith))) { sinkRows += rows; sinkBytes += bytes }
        else { scanRows += rows; scanBytes += bytes }
      }
    }
    Tracer.record(id, parent, "sql.execution", start, end,
      Map("scan_rows" -> scanRows, "scan_bytes" -> scanBytes,
        "sink_scan_rows" -> sinkRows, "sink_scan_bytes" -> sinkBytes))
  }

  /** File scans of a plan, into cached relations too; each physical scan
    * is counted once, by the first execution that reports it, since a
    * cached relation's scan runs only when the cache is built.
    */
  private val counted = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[FileSourceScanExec, java.lang.Boolean]())
  private def allScans(plan: SparkPlan): Seq[FileSourceScanExec] =
    collectWithSubqueries(plan) {
      case s: FileSourceScanExec => Seq(s)
      case c: InMemoryTableScanExec => allScans(c.relation.cachedPlan)
    }.flatten
  private def scans(plan: SparkPlan): Seq[FileSourceScanExec] =
    allScans(plan).filter(s => counted.synchronized(counted.add(s)))
}

/** One benchmark process: builds the session the way the program's own
  * Verify does, runs one workload closed-loop, and writes raw timings
  * (and, when traced, spans) for `perfbench/run.py` to reduce.
  *
  * Arguments are `key=value` pairs; see `run.py` for the full set.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val out = opt("out")
    val cores = opt("cores").toInt
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    Files.createDirectories(Paths.get(out))

    val (spark, sessionS) = Tracer.span("session.start", null) { _ =>
      val b = SparkSession.builder()
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.ui.enabled", "false")
      graft.Tables.builderConfigs.foreach { case (k, v) => b.config(k, v) }
      b.getOrCreate()
    }
    spark.sparkContext.setLogLevel("ERROR")
    Tracer.sc = spark.sparkContext
    val info = Map[String, Any](
      "session_start_s" -> sessionS,
      "spark_version" -> spark.version,
      "master" -> spark.sparkContext.master,
      "settings" -> Seq(
        "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
        "spark.sql.extensions", "spark.sql.files.minPartitionNum",
        "spark.sql.files.openCostInBytes", "spark.sql.codegen.cache.maxEntries",
        "spark.sql.adaptive.coalescePartitions.parallelismFirst")
        .map(k => k -> spark.conf.getOption(k).getOrElse("<default>")).toMap)

    val records = ArrayBuffer[Map[String, Any]]()
    val enableTrace: () => Unit = () => if (traced && !Tracer.enabled) {
      val l = new TraceListener(opt.get("sink_root").toSeq)
      spark.sparkContext.addSparkListener(l)
      Tracer.enabled = true
    }
    val extra = opt("workload") match {
      case "catalog" => Catalog.run(spark, opt, seconds, traced, enableTrace, records)
      case w if w.startsWith("etl_") => Etl.run(spark, opt, seconds, traced, enableTrace, records)
      case w => sys.error(s"unknown workload $w")
    }
    if (traced) Tracer.dump(s"$out/spans.jsonl")
    val rss = peakRssMb()
    Files.write(Paths.get(s"$out/records.jsonl"), records.map(Json.obj).asJava)
    Files.writeString(Paths.get(s"$out/run.json"),
      Json.obj(info ++ extra ++ Map("peak_rss_mb" -> rss)))
    spark.stop()
  }

  /** High-water resident set of this JVM, from the kernel's own count. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
}

/** The `catalog` workload: every selected query of
  * `graft.SparkEntry.queries` (see [[Selection]]), materialized with
  * `collect()`. The first pass runs in name order on a cold fixture
  * store; steady passes, each in a seeded order, follow until the run's
  * time is used and at least `min_passes` are done. Each sample's rows
  * are fingerprinted; the rows of every distinct fingerprint are
  * written out for the oracle check.
  */
object Catalog {
  def run(spark: SparkSession, opt: Map[String, String], seconds: Double, traced: Boolean,
          enableTrace: () => Unit, records: ArrayBuffer[Map[String, Any]]): Map[String, Any] = {
    val dir = opt("sf_dir")
    val out = opt("out")
    val all = graft.SparkEntry.queries
    val mod = opt("select_mod").toInt
    val names = all.keys.toSeq.sorted.filter(n => mod <= 1 || Math.floorMod(Selection.hash(n), mod) == 0)
    val rng = new scala.util.Random(opt("seed").toLong)

    // The fixture store starts empty. A traced run builds it with
    // SparkEntry.prepare before the first pass, to price prepare; an
    // untraced run leaves each fixture to the lazy ensure calls of the
    // first query that reads it, so the first pass prices those builds.
    val prepareS =
      if (opt("prepare") == "1")
        Tracer.span("SparkEntry.prepare", null) { _ => graft.SparkEntry.prepare(spark, dir) }._2
      else 0.0
    val firstOpMs = Clock.nowMs

    val seen = scala.collection.mutable.Map[String, ArrayBuffer[String]]()
    def sample(name: String, pass: Int): Unit = {
      var err: String = null
      var rows: Array[Row] = null
      var schema: org.apache.spark.sql.types.StructType = null
      val (_, wall) = Tracer.span("catalog.query", null, Map("query" -> name, "pass" -> pass)) { op =>
        try {
          val (df, _) = Tracer.span("SparkEntry.construct", op) { _ => all(name)(spark, dir) }
          schema = df.schema
          rows = Tracer.span("exec.collect", op) { _ => df.collect() }._1
        } catch { case e: Throwable => err = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400) }
      }
      var variant = -1
      if (rows != null) {
        val fp = Fingerprint.of(rows)
        val fps = seen.getOrElseUpdate(name, ArrayBuffer())
        variant = fps.indexOf(fp)
        if (variant < 0) {
          variant = fps.size
          fps += fp
          spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
            .write.mode("overwrite").parquet(s"$out/results/$name/$variant")
        }
      }
      records += Map("query" -> name, "pass" -> pass, "wall_s" -> wall,
        "rows" -> (if (rows == null) -1 else rows.length), "variant" -> variant,
        "error" -> err, "traced" -> Tracer.enabled)
      // Drop what the query cached, its intermediates registered with
      // CacheScope and anything else, as Verify does for each query: the
      // next sample of it then pays for those caches again instead of
      // reading this sample's.
      graft.CacheScope.flush()
      spark.catalog.clearCache()
    }

    // A new result variant is written out and the caches are dropped
    // between samples, outside every timed span.
    val t0 = Clock.nowMs
    def elapsedS = (Clock.nowMs - t0) / 1e3
    names.sorted.foreach(sample(_, 0))
    // Steady passes, at least `min_passes`. A traced run makes those
    // untraced and then traces one more, so its own passes give the
    // tracing overhead (traced minus the last untraced).
    var pass = 1
    val minPasses = opt("min_passes").toInt
    while (pass <= minPasses || elapsedS < seconds || (traced && pass == minPasses + 1)) {
      if (traced && pass > minPasses) enableTrace()
      rng.shuffle(names).foreach(sample(_, pass))
      pass += 1
    }
    val timedS = elapsedS
    Tracer.stop()
    // Oracle SQL for the selected queries, static and model-derived;
    // built after the timed region.
    val static = graft.SparkEntry.oracleSql
    val dynamic =
      if (names.forall(static.contains)) Map.empty[String, String]
      else graft.SparkEntry.oracleSqlDynamic(spark, dir)
    val oracle = static ++ dynamic
    Files.writeString(Paths.get(s"$out/oracle_sql.json"),
      Json.obj(names.flatMap(n => oracle.get(n).map(n -> _)).toMap))
    Map("prepare_s" -> prepareS, "first_op_ms" -> firstOpMs, "passes" -> pass,
      "timed_s" -> timedS)
  }
}

/** The catalog's query subset: a query is in when the first four bytes
  * of the MD5 of its name, as an int, are 0 modulo `select_mod`. The
  * choice depends on the name alone, so adding or removing one query
  * leaves the rest of the subset as it was.
  */
object Selection {
  def hash(name: String): Int =
    java.nio.ByteBuffer.wrap(java.security.MessageDigest.getInstance("MD5")
      .digest(name.getBytes("UTF-8"))).getInt
}

/** Order-sensitive digest of collected rows, with doubles cut to the
  * 9 decimal places the oracle comparison uses, so two samples that
  * the check would accept alike share one fingerprint.
  */
object Fingerprint {
  private def norm(v: Any): String = v match {
    case null => "∅"
    case d: Double => if (d.isNaN) "∅" else BigDecimal(d).setScale(9, BigDecimal.RoundingMode.HALF_EVEN).toString
    case f: Float => norm(f.toDouble)
    case r: Row => r.toSeq.map(norm).mkString("(", ",", ")")
    case xs: scala.collection.Seq[_] => xs.map(norm).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => norm(k) + "->" + norm(x) }.sorted.mkString("{", ",", "}")
    case b: Array[Byte] => b.mkString("b[", ",", "]")
    case other => other.toString
  }
  def of(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach { r => md.update(norm(r).getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().map(b => f"$b%02x").mkString
  }
}

/** The ETL workloads: the reference's watermark-incremental load,
  * `graft.etl.Incremental.runOnceTo` with `graft.ops.EventOps.ga4Pipeline`
  * as the transform, into the parquet sink (`Sinks.upsertAppend`) or
  * PostgreSQL (`Sinks.copyUpsertPostgres`). One round is a catch-up run
  * over the history, one run per following day, then crash replays: the
  * watermark is rolled back past committed days and the run repeated.
  */
object Etl {
  import org.apache.spark.sql.types._

  val vocabulary = Seq("select_menu_category", "open_item_details",
    "select_commerce_category", "select_vendor", "add_item_to_favorites", "view_item")
  val keys = Seq("user_id", "event_timestamp", "event_name")
  val table = "application_events"

  val schema: StructType = StructType(Seq(
    StructField("arrival", LongType),
    StructField("user_id", StringType),
    StructField("event_date", StringType),
    StructField("event_timestamp", LongType),
    StructField("event_name", StringType),
    StructField("event_params", ArrayType(StructType(Seq(
      StructField("key", StringType),
      StructField("value", StructType(Seq(StructField("string_value", StringType))))))))))

  def run(spark: SparkSession, opt: Map[String, String], seconds: Double, traced: Boolean,
          enableTrace: () => Unit, records: ArrayBuffer[Map[String, Any]]): Map[String, Any] = {
    val input = opt("input")
    val days = opt("days").toInt
    val history = opt("history").toInt
    val replays = opt("replays").toInt
    val sinkRoot = opt("sink_root")
    val postgres = opt("workload") == "etl_postgres"
    val psqlArgs = opt.getOrElse("psql", "").split(' ').toSeq.filter(_.nonEmpty)

    def source(last: Int): DataFrame =
      spark.read.schema(schema).parquet((0 to last).map(d => f"$input/day_$d%02d.parquet"): _*)
    def psql(sql: String): Unit = {
      import scala.sys.process._
      (Seq("psql") ++ psqlArgs ++ Seq("-X", "-q", "-v", "ON_ERROR_STOP=1", "-c", sql)).!!
    }
    def deleteTree(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(deleteTree)
      f.delete()
    }

    var firstOpMs = 0.0
    var round = 0
    val t0 = Clock.nowMs
    def elapsedS = (Clock.nowMs - t0) / 1e3
    // At least `min_rounds` rounds: the first prices the fresh JVM, the
    // second still warms it, the later ones are the warm steady state. A
    // traced run makes those untraced and then traces one more round, to
    // compare against the last untraced one.
    val minRounds = opt("min_rounds").toInt
    while (round < minRounds || elapsedS < seconds || (traced && round == minRounds)) {
      if (traced && round >= minRounds) enableTrace()
      val sinkDir = s"$sinkRoot/r$round"
      val state = s"$sinkRoot/wm_r$round"
      deleteTree(new java.io.File(sinkRoot))
      if (postgres) psql(
        s"""DROP TABLE IF EXISTS $table;
           |CREATE TABLE $table (user_id text NOT NULL, event_date text,
           |  event_timestamp bigint NOT NULL, event_name text NOT NULL,
           |  event_id text, event_name_detail text,
           |  PRIMARY KEY (user_id, event_timestamp, event_name))""".stripMargin)
      val sink: DataFrame => Long =
        if (postgres) b => graft.etl.Sinks.copyUpsertPostgres(b, psqlArgs, table, keys)
        else b => graft.etl.Sinks.upsertAppend(spark, b, sinkDir, keys)
      val sinkName = if (postgres) "Sinks.copyUpsertPostgres" else "Sinks.upsertAppend"

      val wmBefore = scala.collection.mutable.Map[Int, Long]()
      def once(kind: String, last: Int): Unit = {
        var constructS, sinkS = 0.0
        val before = graft.etl.Incremental.readWatermark(state, 0L)
        val (res, wall) = Tracer.span("Incremental.runOnceTo", null,
            Map("kind" -> kind, "day" -> last, "round" -> round)) { op =>
          graft.etl.Incremental.runOnceTo(spark, source(last), "event_timestamp", keys,
            state, 0L,
            sink = b => { val (n, s) = Tracer.span(sinkName, op)(_ => sink(b)); sinkS += s; n },
            transform = df => {
              val (t, s) = Tracer.span("EventOps.ga4Pipeline", op) { _ =>
                graft.ops.EventOps.ga4Pipeline(df, vocabulary, "arrival").drop("arrival")
              }
              constructS += s
              t
            })
        }
        val r = res.getOrElse(sys.error("another incremental run was in flight"))
        records += Map("round" -> round, "kind" -> kind, "day" -> last, "wall_s" -> wall,
          "fetched" -> r.rowsFetched, "inserted" -> r.rowsInserted,
          "wm_before" -> before, "wm_after" -> r.newWatermarkUs,
          "sink_s" -> sinkS, "construct_s" -> constructS, "traced" -> Tracer.enabled)
      }

      if (round == 0) firstOpMs = Clock.nowMs
      once("backfill", history - 1)
      (history until days).foreach { d =>
        wmBefore(d) = graft.etl.Incremental.readWatermark(state, 0L)
        once("daily", d)
      }
      (1 to replays).foreach { k =>
        graft.etl.Incremental.writeWatermark(state, wmBefore(days - k))
        once("replay", days - 1)
      }
      round += 1
    }
    val timedS = elapsedS
    Tracer.stop()
    Map("first_op_ms" -> firstOpMs, "rounds" -> round, "timed_s" -> timedS,
      "final_state" -> s"$sinkRoot/wm_r${round - 1}", "final_sink" -> s"$sinkRoot/r${round - 1}")
  }
}
