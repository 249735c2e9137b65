package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.model.Update
import graft.server.{Command, CommandParser, Engine, ReqCount, Session, Wire}

/** The traced in-process replay of the `ingest` and `serve` inputs: the
  * same frames and commands, driven through [[Wire]] and [[Engine]] the way
  * the wire server drives them (decode outside the engine monitor, execute
  * under it, the swap gate's read side around execution and
  * materialisation), with each boundary timed and no socket in between. */
object Replay {
  def main(args: Array[String]): Unit = {
    val a = Args(args)
    val spark = Sys.spark(a.int("cores"), a.str("tmp"))
    graft.Tables.enableNanos(spark)
    val log = new JobLog(spark)
    val spans = new Spans
    val out = spans.time(s"replay.${a.str("mode")}") { root =>
      if (a.str("mode") == "ingest") ingest(a, spark, spans, root)
      else serve(a, spark, spans, root)
    }
    Json.emit(Map("result" -> (out ++ Map(
      "context" -> Sys.context(spark),
      "trace" -> (log.dump() + ("spans" -> spans.all))))))
    spark.stop()
  }

  /** Timings of the engine monitor: how long each entry waited for it and
    * how long it was then held. */
  final class Monitor(engine: Engine) {
    val waitUs = new ArrayBuffer[Double]()
    def apply[T](body: => T): (T, Long) = {
      val tReq = System.nanoTime()
      engine.synchronized {
        val tAcq = System.nanoTime()
        val v = body
        val held = System.nanoTime() - tAcq
        waitUs.synchronized(waitUs += (tAcq - tReq) / 1e3)
        (v, held)
      }
    }
  }

  def ingest(a: Args, spark: SparkSession, spans: Spans, root: Long): Map[String, Any] = {
    val interval = a.int("flush_interval")
    val books = a.str("books").split(",").toSeq
    val engine = Policy.engine(spark, a.str("folder"), a)
    val mon = new Monitor(engine)
    val readGate = engine.swapGate.readLock()
    val streams = books.indices.map(i =>
      Gen.stream(a.long("seed"), i, a.int("rows"), a.double("gap_ms")))
    val frames = books.zip(streams).map { case (b, s) => Frames.encodeInserts(b, s) }
    val decodeNs = new java.util.concurrent.atomic.AtomicLong
    val applyNs = new java.util.concurrent.atomic.AtomicLong
    val applyRows = new java.util.concurrent.atomic.AtomicLong
    val flushS = new ArrayBuffer[Double]()
    val batch = a.int("batch")

    // warm-up on books of its own, every book at once, as the socket run's
    // client does
    books.indices.map { i =>
      val t = new Thread(() => {
        val (warm, book) = (new Session, s"warm_${books(i)}")
        engine.execute(Command.Create(book), warm)
        Gen.stream(a.long("seed"), 99 + i, a.int("warm_rows"), a.double("gap_ms"))
          .foreach(u => mon(engine.execute(Command.Insert(Some(u), Some(book)), warm)))
      })
      t.start(); t
    }.foreach(_.join())
    engine.execute(Command.Flush(ReqCount.All))
    mon.waitUs.clear()

    val sessions = books.map { b =>
      val s = new Session
      mon(engine.execute(Command.Create(b), s))
      s
    }
    val n = streams.head.length
    val segments = a.int("segments")
    (0 until segments).foreach { sg =>
      val (lo, hi) = (n * sg / segments, n * (sg + 1) / segments)
      val threads = books.indices.map { bi =>
        val t = new Thread(() => {
          val (buf, ends) = frames(bi)
          var i = lo
          while (i < hi) {
            // the insert that fills the staging buffer to a multiple of the
            // flush interval runs alone, so its hold time is the flush
            val trigger = lo + ((i - lo) / interval + 1) * interval - 1
            val flushes = i == trigger
            val j = if (flushes) i + 1 else math.min(math.min(hi, i + batch), trigger)
            val t0 = System.nanoTime()
            val cmds = (i until j).map { k =>
              val from = if (k == 0) 0 else ends(k - 1)
              Wire.decodeInsertIntoAt(buf, from + 4, ends(k) - from - 4) match {
                case Some((up, book)) => Command.Insert(up, book)
                case None => Command.BadFormat
              }
            }
            decodeNs.addAndGet(System.nanoTime() - t0)
            readGate.lock()
            val held = try {
              if (flushes) spans.time("engine.flush", root) { _ =>
                mon(cmds.map(engine.execute(_, sessions(bi))))._2
              } else mon(cmds.map(engine.execute(_, sessions(bi))))._2
            } finally readGate.unlock()
            if (flushes) flushS.synchronized(flushS += held / 1e9)
            else { applyNs.addAndGet(held); applyRows.addAndGet(j - i) }
            i = j
          }
        })
        t.start(); t
      }
      threads.foreach(_.join())
      val (_, flushAll) = spans.time("engine.flush_all", root) { _ =>
        mon(engine.execute(Command.Flush(ReqCount.All)))
      }
      flushS += flushAll / 1e9
    }
    Map(
      "frames" -> frames.map(_._2.length).sum,
      "decode_ns" -> decodeNs.get(),
      "apply_ns" -> applyNs.get(), "apply_rows" -> applyRows.get(),
      "lock_wait_us" -> mon.waitUs.toSeq,
      "flush_s" -> flushS.toSeq)
  }

  def serve(a: Args, spark: SparkSession, spans: Spans, root: Long): Map[String, Any] = {
    import spark.implicits._
    val sc = spark.sparkContext
    val folder = a.str("folder")
    val interval = a.int("flush_interval")
    val books = a.str("books").split(",").toSeq
    val rows = a.int("rows")
    val extra = a.int("writer_rows")
    val streams = books.indices.map(i =>
      Gen.stream(a.long("seed"), i, rows + extra, a.double("gap_ms")))
    val loaded = streams.map(_.take(rows))
    val loadedTs = loaded.map(_.map(_.ts))
    val loadedTotal = loaded.map(_.length.toLong).sum

    spans.time("setup.load", root)(_ => Books.load(spark, folder, books, loaded))
    val engine = Policy.engine(spark, a.str("folder"), a)
    val mon = new Monitor(engine)
    val readGate = engine.swapGate.readLock()
    books.foreach(b => engine.execute(Command.Use(b)))
    val ops = Client.readerOps(a.long("seed"), books.size, a.int("ops_per_reader"), loaded)

    val gets = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()
    val opId = new java.util.concurrent.atomic.AtomicInteger
    def runOp(op: Client.Op, session: Session, record: Boolean): Boolean = {
      val id = s"op${opId.incrementAndGet()}"
      sc.setLocalProperty("perfbench.span", id)
      sc.setLocalProperty("perfbench.phase", "construct")
      readGate.lock()
      try {
        val (reply, heldNs) = mon(engine.execute(CommandParser.parse(op.line), session))
        reply match {
          case engine.Frame(df, _, _) if op.kind == "get" =>
            val ds = df.as[Update]
            sc.setLocalProperty("perfbench.phase", "plan")
            val t1 = System.nanoTime()
            ds.queryExecution.executedPlan
            sc.setLocalProperty("perfbench.phase", "exec")
            val t2 = System.nanoTime()
            val got = ds.toLocalIterator().asScala.toArray
            val t3 = System.nanoTime()
            val body = Wire.serializeBatches(got.iterator)
            val t4 = System.nanoTime()
            val back = Wire.parseStream(body)
            val t5 = System.nanoTime()
            val want = Gen.countInWindow(loadedTs(op.book), op.lo * 1000, op.hi * 1000)
            if (record) gets.add(Map("span" -> id, "execute_ms" -> heldNs / 1e6,
              "plan_ms" -> (t2 - t1) / 1e6, "exec_ms" -> (t3 - t2) / 1e6,
              "encode_ms" -> (t4 - t3) / 1e6, "decode_ms" -> (t5 - t4) / 1e6,
              "rows" -> got.length, "body_bytes" -> body.length,
              "files" -> df.inputFiles.length))
            back.length == want
          case engine.Frame(df, _, _) =>
            val n = df.toLocalIterator().asScala.size
            n == math.min(100, Gen.countInWindow(loadedTs(op.book), op.lo * 1000, op.hi * 1000))
          case engine.Text(s) if op.kind == "count" => s.trim.toLong >= loadedTotal
          case engine.Text(s) => s.contains("\"bids\"")
          case _ => false
        }
      } finally {
        readGate.unlock()
        sc.setLocalProperty("perfbench.span", null)
        sc.setLocalProperty("perfbench.phase", null)
      }
    }

    // warm-up, as the socket run's client does
    val warmSession = new Session
    engine.execute(Command.Use(books.head), warmSession)
    Client.warmOps(ops).foreach(runOp(_, warmSession, record = false))

    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val flushS = new ArrayBuffer[Double]()
    val rate = a.double("writer_rate")
    val writer = new Thread(() => {
      val session = new Session
      val t0 = System.nanoTime()
      val staged = Array.fill(books.size)(0L)
      var i = 0
      while (!done.get() && i < extra * books.size) {
        val due = t0 + (i * 1e9 / rate).toLong
        val now = System.nanoTime()
        if (now < due) Thread.sleep(0, math.min(999999L, due - now).toInt)
        else {
          val b = i % books.size
          val u = streams(b)(rows + i / books.size)
          staged(b) += 1
          readGate.lock()
          val held = try mon(engine.execute(Command.Insert(Some(u), Some(books(b))), session))._2
            finally readGate.unlock()
          if (staged(b) % interval == 0) flushS.synchronized(flushS += held / 1e9)
          i += 1
        }
      }
    })
    writer.start()
    val oks = new Array[Seq[Boolean]](books.size)
    val readers = books.indices.map { rd =>
      val t = new Thread(() => {
        val session = new Session
        engine.execute(Command.Use(books(rd)), session)
        oks(rd) = ops(rd).map(op => spans.time(s"op.${op.kind}", root)(_ =>
          runOp(op, session, record = true)))
      })
      t.start(); t
    }
    readers.foreach(_.join())
    done.set(true)
    writer.join()
    Map(
      "ops" -> oks.toSeq.flatten.size, "ops_failed" -> oks.toSeq.flatten.count(!_),
      "gets" -> gets.asScala.toSeq,
      "lock_wait_us" -> mon.waitUs.toSeq,
      "flush_s" -> flushS.toSeq)
  }
}
