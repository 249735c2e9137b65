package perfbench

import java.util.concurrent.{Callable, Executors, TimeUnit, TimeoutException}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkEntry

/** Runs a list of registry queries (`SparkEntry.registry`, `Q.fn`) in the
  * given order, each through construct, plan, execute and a sink that
  * drains the whole physical plan — a count or aggregate sink would let
  * Catalyst drop the final sort. The sink yields an order-insensitive
  * fingerprint of the result: its row count and the sum of per-row hashes
  * over every column. Set-up runs the same list on the warm-up data first
  * (a different directory, so memos keyed on the measured data stay cold)
  * and prints `{"warm":1}`; the end prints one `{"result":...}` line. */
object Queries {
  def main(args: Array[String]): Unit = {
    val a = Args(args)
    val spark = Sys.spark(a.int("cores"), a.str("tmp"))
    graft.Tables.enableNanos(spark)
    val byName = SparkEntry.registry.map(q => q.name -> q).toMap
    val names = a.str("queries").split(",").toSeq
    val missing = names.filterNot(byName.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
    val budgetS = a.long("budget_s")

    names.foreach(n => run(spark, byName(n), a.str("warm_dir"), budgetS, None))
    Json.emit(Map("warm" -> 1))

    val log = if (a.bool("trace")) Some(new JobLog(spark)) else None
    val spans = new Spans
    val results = spans.time("queries") { root =>
      names.map(n => run(spark, byName(n), a.str("dir"), budgetS,
        log.map(_ => (spans, root))))
    }
    Json.emit(Map("result" -> Map(
      "queries" -> results,
      "peak_rss_mb" -> Sys.peakRssMb(),
      "context" -> Sys.context(spark),
      "trace" -> log.map(_.dump() + ("spans" -> spans.all)))))
    spark.stop()
  }

  private val pool = Executors.newCachedThreadPool { r =>
    val t = new Thread(r, "perfbench-query"); t.setDaemon(true); t
  }

  /** One query, timed phase by phase; over `budgetS` it is cancelled and
    * reported as failed. */
  def run(spark: SparkSession, q: graft.queries.Q, dir: String, budgetS: Long,
      trace: Option[(Spans, Long)]): Map[String, Any] = {
    val sc = spark.sparkContext
    val group = s"perfbench-${q.name}"
    val task: Callable[Map[String, Any]] = () => {
      sc.setJobGroup(group, q.name, interruptOnCancel = true)
      sc.setLocalProperty("perfbench.span", q.name)
      def phase[T](name: String)(body: => T): (T, Double) = {
        sc.setLocalProperty("perfbench.phase", name)
        val t0 = Sys.nowMs
        val v = body
        val t1 = Sys.nowMs
        trace.foreach { case (s, root) => s.add(s"${q.name}.$name", t0, t1, root) }
        (v, (t1 - t0) / 1000)
      }
      try {
        val (df, construct) = phase("construct")(q.fn(spark, dir))
        val qe = df.queryExecution
        val (_, plan) = phase("plan")(qe.executedPlan)
        val schema = qe.executedPlan.schema
        val ((rows, hash), exec) = phase("exec") {
          SQLExecution.withNewExecutionId(qe, Some(s"perfbench sink ${q.name}")) {
            qe.toRdd.mapPartitions { it =>
              var n = 0L; var h = 0L
              it.foreach { r => n += 1; h += Fingerprint.row(r, schema) }
              Iterator((n, h))
            }.collect()
          }.foldLeft((0L, 0L)) { case ((n, h), (n2, h2)) => (n + n2, h + h2) }
        }
        Map("name" -> q.name, "ok" -> true, "rows" -> rows,
          "hash" -> java.lang.Long.toHexString(hash),
          "construct_s" -> construct, "plan_s" -> plan, "exec_s" -> exec,
          "wall_s" -> (construct + plan + exec))
      } finally {
        sc.setLocalProperty("perfbench.phase", null)
        sc.setLocalProperty("perfbench.span", null)
        sc.clearJobGroup()
      }
    }
    val t0 = System.nanoTime()
    val fut = pool.submit(task)
    try fut.get(budgetS, TimeUnit.SECONDS)
    catch {
      case _: TimeoutException =>
        sc.cancelJobGroup(group)
        fut.cancel(true)
        Map("name" -> q.name, "ok" -> false, "error" -> s"over budget ${budgetS}s",
          "wall_s" -> (System.nanoTime() - t0) / 1e9)
      case e: Throwable =>
        val c = Option(e.getCause).getOrElse(e)
        Map("name" -> q.name, "ok" -> false, "error" -> c.toString.take(300),
          "wall_s" -> (System.nanoTime() - t0) / 1e9)
    }
  }
}

/** Value hashing for the result fingerprint. Doubles drop their 20 lowest
  * mantissa bits (relative 2^-32), so a summation-order difference in the
  * last bits does not read as a wrong result; -0.0 reads as 0.0. */
object Fingerprint {
  private def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def bytes(b: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    b.foreach { x => h = (h ^ (x & 0xff)) * 0x100000001b3L }
    h
  }

  private def dbl(d: Double): Long =
    if (d.isNaN) 0x7ff8000000000000L
    else java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d) & ~0xFFFFFL

  def value(v: Any, dt: DataType): Long = if (v == null) 0x5bd1e995L else dt match {
    case DoubleType => dbl(v.asInstanceOf[Double])
    case FloatType => dbl(v.asInstanceOf[Float].toDouble)
    case _: DecimalType =>
      bytes(v.asInstanceOf[Decimal].toJavaBigDecimal.stripTrailingZeros
        .toPlainString.getBytes("UTF-8"))
    case _: StringType => bytes(v.asInstanceOf[UTF8String].getBytes)
    case BinaryType => bytes(v.asInstanceOf[Array[Byte]])
    case BooleanType => if (v.asInstanceOf[Boolean]) 1L else 2L
    case ArrayType(et, _) =>
      val a = v.asInstanceOf[ArrayData]
      var h = 17L
      var i = 0
      while (i < a.numElements()) {
        h = mix(h * 31 + value(if (a.isNullAt(i)) null else a.get(i, et), et))
        i += 1
      }
      h
    case MapType(kt, vt, _) =>
      val m = v.asInstanceOf[MapData]
      (0 until m.numElements()).map { i =>
        mix(value(m.keyArray().get(i, kt), kt) * 31 +
          value(if (m.valueArray().isNullAt(i)) null else m.valueArray().get(i, vt), vt))
      }.sum
    case st: StructType => row(v.asInstanceOf[InternalRow], st)
    case _ => v match {
      case n: Number => n.longValue()
      case other => bytes(other.toString.getBytes("UTF-8"))
    }
  }

  def row(r: InternalRow, schema: StructType): Long = {
    var h = 23L
    var i = 0
    while (i < schema.length) {
      val dt = schema(i).dataType
      h = mix(h * 31 + value(if (r.isNullAt(i)) null else r.get(i, dt), dt))
      i += 1
    }
    h
  }
}
