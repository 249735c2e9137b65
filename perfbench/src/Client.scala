package perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
import java.net.Socket
import java.util.concurrent.Semaphore
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.collection.mutable.ArrayBuffer

import graft.model.Update
import graft.server.Wire

/** One wire connection: a request is a u32 length + payload, a reply is
  * u8 ok + u64 length + body. Unlike `TcpClient` it exposes both streams,
  * so one thread can stream pre-encoded frames while another reads acks. */
final class Conn(port: Int) {
  private val sock = new Socket("127.0.0.1", port)
  sock.setTcpNoDelay(true)
  val in = new DataInputStream(new BufferedInputStream(sock.getInputStream, 1 << 16))
  val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream, 1 << 16))

  def readReply(): (Boolean, Array[Byte]) = {
    val ok = in.readByte() == 1
    val body = new Array[Byte](in.readLong().toInt)
    in.readFully(body)
    (ok, body)
  }

  def cmd(s: String): (Boolean, Array[Byte]) = {
    val p = s.getBytes("UTF-8")
    out.writeInt(p.length); out.write(p); out.flush()
    readReply()
  }

  def text(s: String): String = {
    val (ok, body) = cmd(s)
    val t = new String(body, "UTF-8")
    if (!ok) throw new IllegalStateException(s"$s -> $t")
    t
  }

  def close(): Unit = sock.close()
}

/** The load generator: one JVM, separate from the server, holding every
  * generated input before the timed phase starts. Prints `{"warm":1}`
  * when set-up is over and one `{"result":...}` line at the end. */
object Client {
  def main(args: Array[String]): Unit = {
    val a = Args(args)
    a.str("mode") match {
      case "ingest" => ingest(a)
      case "serve" => serve(a)
    }
  }

  /** Frames in flight per connection, far below the flush interval, so a
    * frame's send-to-ack time is the server's own service time for it plus
    * at most a window's queue, and a flush stall delays only the frames in
    * flight when it starts. */
  private val Window = 128

  /** Streams pre-encoded frames closed-loop, one window per write once the
    * previous window is acknowledged; returns each frame's send-to-ack
    * latency in ns (-1 for a failed insert). The sender blocks on the
    * window, never spins, so it takes no core from the server while a flush
    * stalls the acks. */
  private def stream(c: Conn, buf: Array[Byte], ends: Array[Int],
      lo: Int, hi: Int): Array[Long] = {
    val n = hi - lo
    val sentAt = new Array[Long](n)
    val lat = new Array[Long](n)
    val permits = new Semaphore(Window)
    val reader = new Thread(() => {
      var i = 0
      while (i < n) {
        val (ok, _) = c.readReply()
        lat(i) = if (ok) System.nanoTime() - sentAt(i) else -1L
        i += 1
        permits.release()
      }
    })
    reader.start()
    var i = 0
    while (i < n) {
      val j = math.min(n, i + Window)
      permits.acquire(j - i)
      val t = System.nanoTime()
      var k = i
      while (k < j) { sentAt(k) = t; k += 1 }
      val from = if (lo + i == 0) 0 else ends(lo + i - 1)
      c.out.write(buf, from, ends(lo + j - 1) - from)
      c.out.flush()
      i = j
    }
    reader.join()
    lat
  }

  /** Runs `body(0 until k)` on k threads and waits for all of them. */
  private def onEach(k: Int)(body: Int => Unit): Unit = {
    val threads = (0 until k).map { i => val t = new Thread(() => body(i)); t.start(); t }
    threads.foreach(_.join())
  }

  private def decodeRange(c: Conn, ups: Array[Update]): Seq[Update] = {
    val lo = ups.head.ts / 1000
    val hi = ups.last.ts / 1000 + 1
    val (ok, body) = c.cmd(s"GET ALL FROM $lo TO $hi")
    if (ok) Wire.parseStream(body) else Seq.empty
  }

  def ingest(a: Args): Unit = {
    val books = a.str("books").split(",").toSeq
    val interval = a.int("flush_interval")
    val port = a.int("port")
    val streams = books.indices.map(i =>
      Gen.stream(a.long("seed"), i, a.int("rows"), a.double("gap_ms")))
    val frames = books.zip(streams).map { case (b, s) => Frames.encodeInserts(b, s) }
    val warmBooks = books.map(b => s"warm_$b")
    val warmStreams = books.indices.map(i =>
      Gen.stream(a.long("seed"), 99 + i, a.int("warm_rows"), a.double("gap_ms")))
    val warmFrames = warmBooks.zip(warmStreams).map { case (b, s) => Frames.encodeInserts(b, s) }

    // warm-up on books of its own, shaped like a measured segment (every
    // connection at once, ended by FLUSH ALL), then a ranged GET
    val warmConns = warmBooks.map { b => val c = new Conn(port); c.text(s"CREATE $b"); c }
    onEach(books.size) { i =>
      stream(warmConns(i), warmFrames(i)._1, warmFrames(i)._2, 0, warmStreams(i).length)
    }
    warmConns.head.text("FLUSH ALL")
    decodeRange(warmConns.head, warmStreams.head)
    warmConns.foreach(_.close())
    Json.emit(Map("warm" -> 1))

    // the stream goes in equal segments, each ended by FLUSH ALL, so the
    // run yields several timings of the same work
    val conns = books.map(_ => new Conn(port))
    books.zip(conns).foreach { case (b, c) => c.text(s"CREATE $b") }
    val n = streams.head.length
    val segments = a.int("segments")
    val lat = books.map(_ => new Array[Long](n))
    val segmentS = (0 until segments).map { sg =>
      val (lo, hi) = (n * sg / segments, n * (sg + 1) / segments)
      val t0 = System.nanoTime()
      onEach(books.size) { i =>
        System.arraycopy(stream(conns(i), frames(i)._1, frames(i)._2, lo, hi),
          0, lat(i), lo, hi - lo)
      }
      conns.head.text("FLUSH ALL")
      (System.nanoTime() - t0) / 1e9
    }

    // every acknowledged row must be readable, except what the append
    // rule predicts (rows sharing the stored max ts at a flush boundary)
    val expected = streams.map(Gen.keptAfterFlushes(_, interval, n / segments))
    val warmKept = warmStreams.map(w => Gen.keptAfterFlushes(w, interval, w.length).length).sum
    val count = conns.head.text("COUNT ALL").trim.toLong
    val readable = books.indices.map { i =>
      conns(i).text(s"USE ${books(i)}")
      decodeRange(conns(i), streams(i))
    }
    conns.foreach(_.close())
    val acked = lat.map(_.count(_ >= 0)).sum
    Json.emit(Map("result" -> Map(
      "rows_sent" -> streams.map(_.length).sum,
      "rows_acked" -> acked,
      "segment_s" -> segmentS,
      "ack_ns" -> (0 until segments).map { sg =>
        val (lo, hi) = (n * sg / segments, n * (sg + 1) / segments)
        lat.flatMap(_.slice(lo, hi)).filter(_ >= 0)
      },
      "count_all" -> count,
      "count_expected" -> (expected.map(_.length).sum + warmKept),
      "rows_readable" -> readable.map(_.length).sum,
      "rows_expected" -> expected.map(_.length).sum,
      "readable_matches_append_rule" ->
        readable.zip(expected).forall { case (r, e) => Gen.sameRows(r, e.toSeq) })))
  }

  /** A reader op: kind plus the command line. */
  final case class Op(kind: String, line: String, book: Int, lo: Long, hi: Long)

  /** The readers' seeded op lists: 80% one-hour binary GETs, 8% JSON GETs
    * of 100 rows, 8% COUNT ALL, 2% OB (at least one), dealt round-robin
    * after a seeded shuffle. Windows lie inside the loaded span only. */
  def readerOps(seed: Long, readers: Int, perReader: Int,
      loaded: Seq[Array[Update]]): Seq[Seq[Op]] = {
    val r = new scala.util.Random(seed)
    val total = readers * perReader
    val nOb = math.max(1, math.round(total * 0.02).toInt)
    val nCount = math.round(total * 0.08).toInt
    val nJson = math.round(total * 0.08).toInt
    val kinds = r.shuffle(Seq.fill(nOb)("ob") ++ Seq.fill(nCount)("count") ++
      Seq.fill(nJson)("json") ++ Seq.fill(total - nOb - nCount - nJson)("get"))
    kinds.zipWithIndex.groupBy(_._2 % readers).toSeq.sortBy(_._1).map { case (rd, ks) =>
      val ups = loaded(rd)
      val first = ups.head.ts / 1000 + 1
      val last = ups.last.ts / 1000 - 1 - 3600
      ks.map(_._1).map { k =>
        val lo = first + (r.nextDouble() * (last - first)).toLong
        val hi = lo + 3600
        k match {
          case "get" => Op(k, s"GET ALL FROM $lo TO $hi", rd, lo, hi)
          case "json" => Op(k, s"GET 100 FROM $lo TO $hi AS JSON", rd, lo, hi)
          case "count" => Op(k, "COUNT ALL", rd, 0, 0)
          case "ob" => Op(k, "OB", rd, 0, 0)
        }
      }
    }
  }

  /** Set-up's warm-up: one op of each kind, the first GET twice. */
  def warmOps(ops: Seq[Seq[Op]]): Seq[Op] =
    Seq(ops.head.find(_.kind == "get"), ops.head.find(_.kind == "json"),
      ops.flatten.find(_.kind == "count"), ops.flatten.find(_.kind == "ob"),
      ops.head.find(_.kind == "get")).flatten

  /** Checks one reply; returns the rows it carried, or -1 when wrong. */
  def checkReply(op: Op, ok: Boolean, body: Array[Byte], loadedTs: Seq[Array[Long]],
      loadedTotal: Long): Int = if (!ok) -1 else op.kind match {
    case "get" =>
      val rows = Wire.parseStream(body)
      val want = Gen.countInWindow(loadedTs(op.book), op.lo * 1000, op.hi * 1000)
      if (rows.length == want && rows.forall(u => u.ts >= op.lo * 1000 &&
        u.ts <= op.hi * 1000)) rows.length else -1
    case "json" =>
      val arr = Json.mapper.readTree("[" + new String(body, "UTF-8").trim + "]")
      val want = math.min(100,
        Gen.countInWindow(loadedTs(op.book), op.lo * 1000, op.hi * 1000))
      if (arr.size() == want && (want == 0 || arr.get(0).has("price"))) want else -1
    case "count" =>
      val n = new String(body, "UTF-8").trim.toLong
      if (n >= loadedTotal) 1 else -1
    case "ob" =>
      val ob = Json.mapper.readTree(new String(body, "UTF-8"))
      if (ob.get("bids").isObject && ob.get("asks").isObject &&
        ob.get("bids").size() + ob.get("asks").size() > 0) 1 else -1
  }

  def serve(a: Args): Unit = {
    val books = a.str("books").split(",").toSeq
    val port = a.int("port")
    val rows = a.int("rows")
    val rate = a.double("writer_rate")
    val extra = a.int("writer_rows")
    val streams = books.indices.map(i =>
      Gen.stream(a.long("seed"), i, rows + extra, a.double("gap_ms")))
    val loaded = streams.map(_.take(rows))
    val loadedTs = loaded.map(_.map(_.ts))
    val ops = readerOps(a.long("seed"), books.size, a.int("ops_per_reader"), loaded)
    // writer rows continue each book past the loaded span, alternating books
    val writes = (0 until extra).flatMap(i => books.indices.map(b => (b, streams(b)(rows + i))))
    val writeFrames = writes.map { case (b, u) =>
      val f = Wire.encodeInsertInto(Some(books(b)), u)
      java.nio.ByteBuffer.allocate(4 + f.length).putInt(f.length).put(f).array()
    }.toArray

    val w = new Conn(port)
    w.text(s"USE ${books.head}")
    warmOps(ops).foreach(op => w.cmd(op.line))
    w.close()
    Json.emit(Map("warm" -> 1))

    val readers = books.indices.map(_ => new Conn(port))
    readers.zip(books).foreach { case (c, b) => c.text(s"USE $b") }
    val writer = new Conn(port)
    val done = new AtomicBoolean(false)
    val sent = new Semaphore(0)
    val dueAt = new Array[Long](writeFrames.length)
    val ackUs = new ArrayBuffer[Int]()
    val writeFailed = new AtomicLong(0)
    val writesSent = new AtomicLong(0)
    val t0 = System.nanoTime()
    // open loop: row i is due at t0 + i/rate and is timed from then
    val wSend = new Thread(() => {
      var i = 0
      while (i < writeFrames.length && !done.get()) {
        val due = t0 + (i * 1e9 / rate).toLong
        val now = System.nanoTime()
        if (now < due) Thread.sleep(0, math.min(999999L, due - now).toInt)
        else {
          val from = i
          while (i < writeFrames.length && t0 + (i * 1e9 / rate).toLong <= now) {
            dueAt(i) = t0 + (i * 1e9 / rate).toLong
            writer.out.write(writeFrames(i))
            i += 1
          }
          writer.out.flush()
          writesSent.set(i)
          sent.release(i - from)
        }
      }
      writesSent.set(i)
    })
    val wAck = new Thread(() => {
      var i = 0
      while (wSend.isAlive || i < writesSent.get()) {
        if (sent.tryAcquire(5, java.util.concurrent.TimeUnit.MILLISECONDS)) {
          val (ok, _) = writer.readReply()
          if (!ok) writeFailed.incrementAndGet()
          ackUs += ((System.nanoTime() - dueAt(i)) / 1000).toInt
          i += 1
        }
      }
    })
    wSend.start(); wAck.start()

    val loadedTotal = loaded.map(_.length.toLong).sum
    val results = new Array[Seq[(String, Double, Int)]](books.size)
    val rThreads = books.indices.map { rd =>
      val t = new Thread(() => {
        results(rd) = ops(rd).map { op =>
          val t1 = System.nanoTime()
          val (ok, body) = readers(rd).cmd(op.line)
          val ms = (System.nanoTime() - t1) / 1e6
          (op.kind, ms, checkReply(op, ok, body, loadedTs, loadedTotal))
        }
      })
      t.start(); t
    }
    rThreads.foreach(_.join())
    val tEnd = System.nanoTime()
    done.set(true)
    wSend.join(); wAck.join()
    (readers :+ writer).foreach(_.close())
    val all = results.toSeq.flatten
    Json.emit(Map("result" -> Map(
      "work_s" -> (tEnd - t0) / 1e9,
      "ops" -> all.map { case (k, ms, rowsOrFail) =>
        Map("kind" -> k, "ms" -> ms, "ok" -> (rowsOrFail >= 0)) },
      "writes_sent" -> writesSent.get(),
      "writes_failed" -> writeFailed.get(),
      "ack_us" -> ackUs.toSeq)))
  }
}
