package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.model.Update

/** The harness's result lines: one JSON object per stdout line, and
  * nothing else on stdout; the orchestrator parses them. */
object Json {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def emit(m: Map[String, Any]): Unit = {
    println(mapper.writeValueAsString(m))
    System.out.flush()
  }
}

object Sys {
  /** Wall clock in fractional epoch milliseconds, on the same axis as
    * Spark listener event times. */
  private val baseEpochMs = System.currentTimeMillis()
  private val baseNanos = System.nanoTime()
  def nowMs: Double = baseEpochMs + (System.nanoTime() - baseNanos) / 1e6

  def spark(cores: Int, localDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", s"$localDir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  /** Fixed calibration sample, the same job every run, so results from
    * different runs can be normalised for host speed. */
  def calibrate(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(50L * 1000 * 1000)
      .selectExpr("sum(id * 2654435761 % 1000000007)").collect()
    (System.nanoTime() - t0) / 1e9
  }

  def context(spark: SparkSession): Map[String, Any] = Map(
    "nproc" -> Runtime.getRuntime.availableProcessors(),
    "jvm" -> System.getProperty("java.runtime.version"),
    "spark" -> spark.version,
    "max_heap_mb" -> Runtime.getRuntime.maxMemory() / (1L << 20),
    "calib_s" -> calibrate(spark))

  def parquetFiles(root: java.io.File): Seq[java.io.File] =
    if (root.isFile) (if (root.getName.endsWith(".parquet")) Seq(root) else Nil)
    else Option(root.listFiles()).getOrElse(Array.empty).toSeq
      .flatMap(parquetFiles)
}

/** The seeded L2 stream every server workload uses: a price random walk,
  * about 10% trades, and exponential gaps around `meanGapMs` with one in
  * four rows sharing the previous row's millisecond (the bursts a liquid
  * book has). Prices and sizes are float-exact, as the wire carries f32. */
object Gen {
  val StartMs = 1600000000000L
  val BurstShare = 0.25

  def stream(seed: Long, book: Int, n: Int, meanGapMs: Double): Array[Update] = {
    val r = new java.util.SplittableRandom(seed * 1000003L + book)
    val gapMean = meanGapMs / (1 - BurstShare)
    val out = new Array[Update](n)
    var ts = StartMs + book * 7L
    var mid = 100.0
    var i = 0
    while (i < n) {
      if (i > 0 && r.nextDouble() >= BurstShare)
        ts += math.max(1L, math.round(-math.log(1 - r.nextDouble()) * gapMean))
      mid = math.max(1.0, mid + (r.nextDouble() - 0.5) * 0.02)
      val trade = r.nextDouble() < 0.1
      val bid = r.nextBoolean()
      val level = if (trade) 0 else r.nextInt(10)
      val px = math.round((if (bid) mid - level * 0.01 else mid + level * 0.01) * 100) / 100.0
      val size =
        if (!trade && r.nextDouble() < 0.1) 0.0
        else (1 + r.nextInt(1000)) / 100.0
      out(i) = Update("", ts, i + 1L, trade, bid, px.toFloat.toDouble,
        size.toFloat.toDouble)
      i += 1
    }
    out
  }

  /** Rows an append-only store keeps when `rows` arrive in order and are
    * flushed every `interval` rows and at the end of every `segment` rows,
    * each flush keeping only rows newer than everything flushed before (the
    * engine's append semantics). */
  def keptAfterFlushes(rows: Array[Update], interval: Int, segment: Int): Array[Update] = {
    var maxTs = Long.MinValue
    rows.grouped(segment).flatMap(_.grouped(interval)).flatMap { chunk =>
      val kept = chunk.filter(_.ts > maxTs)
      if (kept.nonEmpty) maxTs = math.max(maxTs, kept.map(_.ts).max)
      kept
    }.toArray
  }

  /** Rows of sorted `ts` in the inclusive ms window [lo, hi]. */
  def countInWindow(ts: Array[Long], lo: Long, hi: Long): Int =
    lowerBound(ts, hi + 1) - lowerBound(ts, lo)

  private def lowerBound(a: Array[Long], x: Long): Int = {
    var l = 0; var h = a.length
    while (l < h) { val m = (l + h) >>> 1; if (a(m) < x) l = m + 1 else h = m }
    l
  }

  def sameRows(a: Seq[Update], b: Seq[Update]): Boolean = {
    def key(u: Update) = (u.ts, u.seq, u.is_trade, u.is_bid, u.price, u.size)
    a.length == b.length &&
      a.map(key).sortBy(k => (k._1, k._2)) == b.map(key).sortBy(k => (k._1, k._2))
  }
}

/** Spans kept in memory and written out when the run ends: a name, a
  * start, an end (epoch ms, fractional) and the parent span's id. */
final class Spans {
  private val recs = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)

  def time[T](name: String, parent: Long = 0L)(body: Long => T): T = {
    val id = ids.incrementAndGet()
    val t0 = Sys.nowMs
    try body(id)
    finally recs.add(Map("id" -> id, "parent" -> parent, "name" -> name,
      "start" -> t0, "end" -> Sys.nowMs))
  }

  def add(name: String, start: Double, end: Double, parent: Long): Unit =
    recs.add(Map("id" -> ids.incrementAndGet(), "parent" -> parent,
      "name" -> name, "start" -> start, "end" -> end))

  def all: Seq[Map[String, Any]] = recs.asScala.toSeq
}

/** Records every Spark job and stage of the session, with the innermost
  * program frame of the job's call site and the local properties the
  * harness sets around its calls (`perfbench.span`, `perfbench.phase`).
  * Also records each Dataset action through a QueryExecutionListener. */
final class JobLog(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Map[String, Any]]()
  private val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val actions = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val execs = new java.util.concurrent.ConcurrentHashMap[String, String]()

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  private def prop(p: java.util.Properties, k: String): String =
    Option(p).flatMap(x => Option(x.getProperty(k))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val details =
      if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    jobs.put(e.jobId, Map(
      "id" -> e.jobId, "start" -> e.time,
      "callsite" -> details.linesIterator.take(40).mkString("\n"),
      "exec" -> prop(e.properties, "spark.sql.execution.id"),
      "span" -> prop(e.properties, "perfbench.span"),
      "phase" -> prop(e.properties, "perfbench.phase"),
      "stages" -> e.stageIds))
  }

  /** SQL executions whose jobs run on Spark's own threads keep the call
    * site of the thread that started the execution here. */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      execs.put(s.executionId.toString, s.details.linesIterator.take(40).mkString("\n"))
    case _ => ()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobEnds.put(e.jobId, e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null) stages.add(Map(
      "id" -> i.stageId, "tasks" -> i.numTasks,
      "run_ms" -> m.executorRunTime, "gc_ms" -> m.jvmGCTime,
      "shuffle_read" -> (m.shuffleReadMetrics.remoteBytesRead +
        m.shuffleReadMetrics.localBytesRead),
      "shuffle_write" -> m.shuffleWriteMetrics.bytesWritten,
      "spill" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
      "bytes_written" -> m.outputMetrics.bytesWritten))
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit =
    actions.add(Map("func" -> funcName, "ms" -> durationNs / 1e6))

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit =
    actions.add(Map("func" -> funcName, "failed" -> true))

  /** Everything recorded so far, after the listener bus has drained. */
  def dump(): Map[String, Any] = {
    Bus.drain(spark)
    Map(
      "jobs" -> jobs.values().asScala.toSeq.sortBy(_("id").asInstanceOf[Int])
        .map(j => j + ("end" -> Option(jobEnds.get(j("id").asInstanceOf[Int]))
          .map(_.longValue()).getOrElse(j("start")))),
      "stages" -> stages.asScala.toSeq,
      "executions" -> execs.asScala.toMap,
      "actions" -> actions.asScala.toSeq)
  }
}

object Bus {
  def drain(spark: SparkSession): Unit =
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
}

/** `key=value` command-line arguments. */
final case class Args(args: Array[String]) {
  private val m = args.map { s =>
    val i = s.indexOf('=')
    s.substring(0, i) -> s.substring(i + 1)
  }.toMap
  def str(k: String): String = m.getOrElse(k, sys.error(s"missing argument $k"))
  def int(k: String): Int = str(k).toInt
  def long(k: String): Long = str(k).toLong
  def double(k: String): Double = str(k).toDouble
  def bool(k: String): Boolean = str(k) == "1"
}

/** The engine configuration both server workloads run, every field taken
  * from the flush-policy arguments `run.py` passes (its `FLUSH_POLICY`). */
object Policy {
  def engine(spark: SparkSession, folder: String, a: Args): graft.server.Engine =
    new graft.server.Engine(spark, folder, autoflush = a.bool("autoflush"),
      flushInterval = a.long("flush_interval"), autoCompact = a.bool("auto_compact"),
      compactMaxLeafFiles = a.int("compact_max_leaf_files"),
      compactTargetBytes = a.long("compact_target_bytes"))
}

/** Helpers shared by the client and the in-process replay. */
object Frames {
  /** Length-prefixed request frames of `ups` as raw inserts into `book`,
    * concatenated, with each frame's end offset. */
  def encodeInserts(book: String, ups: Array[Update]): (Array[Byte], Array[Int]) = {
    val bos = new java.io.ByteArrayOutputStream(ups.length * (4 + 32 + book.length))
    val ends = new Array[Int](ups.length)
    var i = 0
    while (i < ups.length) {
      val f = graft.server.Wire.encodeInsertInto(Some(book), ups(i))
      bos.write(f.length >>> 24); bos.write(f.length >>> 16)
      bos.write(f.length >>> 8); bos.write(f.length)
      bos.write(f)
      ends(i) = bos.size()
      i += 1
    }
    (bos.toByteArray, ends)
  }
}

/** Book set-up and tear-down shared by the server and the replay. */
object Books {
  /** Writes `streams` as the books' on-disk state through the engine
    * itself: in-process inserts, one FLUSH ALL, one compaction per book. */
  def load(spark: SparkSession, folder: String, books: Seq[String],
      streams: Seq[Array[Update]]): Unit = {
    val loader = new graft.server.Engine(spark, folder)
    books.zip(streams).foreach { case (b, ups) =>
      loader.execute(graft.server.Command.Create(b))
      ups.foreach(u => loader.execute(graft.server.Command.Insert(Some(u), Some(b))))
    }
    loader.execute(graft.server.Command.Flush(graft.server.ReqCount.All))
    books.foreach(b => loader.compactBook(b))
  }

  /** Compacts every book explicitly; an auto-compaction in flight makes
    * `compactBook` a no-op, so it retries until the book's own ran.
    * Returns the files each compaction started from. */
  def compactAll(engine: graft.server.Engine, books: Seq[String]): Seq[Int] =
    books.map { b =>
      var r = engine.compactBook(b)
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      while (r == ((0, 0)) && System.nanoTime() < deadline) {
        Thread.sleep(20)
        r = engine.compactBook(b)
      }
      r._1
    }
}
