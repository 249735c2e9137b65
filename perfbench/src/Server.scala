package perfbench

import graft.server.{Command, TcpServer}

/** The system under test for the `ingest` and `serve` workloads: a
  * SparkSession, one [[graft.server.Engine]] with the benchmark's flush policy, and a
  * [[TcpServer]] on an ephemeral port. It runs in its own JVM; the load
  * generator talks to it only over the wire.
  *
  * Protocol on stdout/stdin (one JSON line each way):
  *  - prints `{"ready":port}` once it accepts connections;
  *  - on the stdin line `finish` it waits for background compaction,
  *    compacts every measured book, measures the stored bytes, prints
  *    `{"finish":...}` and exits.
  */
object Server {
  def main(args: Array[String]): Unit = {
    val a = Args(args)
    val books = a.str("books").split(",").toSeq
    val folder = a.str("folder")
    val spark = Sys.spark(a.int("cores"), a.str("tmp"))
    graft.Tables.enableNanos(spark)

    // serve: the books are on disk before the server starts
    if (a.str("mode") == "serve")
      Books.load(spark, folder, books, books.indices.map(i =>
        Gen.stream(a.long("seed"), i, a.int("rows"), a.double("gap_ms"))))
    // registered after the load, so set-up's jobs stay out of the trace
    val log = if (a.bool("trace")) Some(new JobLog(spark)) else None

    val engine = Policy.engine(spark, folder, a)
    if (a.str("mode") == "serve")
      books.foreach(b => engine.execute(Command.Use(b)))
    val server = new TcpServer(engine)
    Json.emit(Map("ready" -> server.boundPort))

    val in = new java.io.BufferedReader(new java.io.InputStreamReader(System.in))
    var line = in.readLine()
    while (line != null && line.trim != "finish") line = in.readLine()

    val t0 = System.nanoTime()
    val compacted = Books.compactAll(engine, books)
    val compactS = (System.nanoTime() - t0) / 1e9
    val files = books.map(b => Sys.parquetFiles(new java.io.File(s"$folder/book=$b")))
    Json.emit(Map("finish" -> Map(
      "final_compaction_s" -> compactS,
      "final_compaction_files" -> compacted.sum,
      "stored_bytes" -> files.flatten.map(_.length()).sum,
      "files_per_book" -> files.map(_.size).sum.toDouble / books.size,
      "peak_rss_mb" -> Sys.peakRssMb(),
      "context" -> Sys.context(spark),
      "trace" -> log.map(_.dump()))))
    server.stop()
    spark.stop()
  }
}
