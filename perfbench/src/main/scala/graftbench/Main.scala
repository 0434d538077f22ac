package graftbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run inside one JVM:
  *
  *  1. set up the session three times (session, extensions, warm-up);
  *     every set-up but the last is stopped again;
  *  2. run the workload untraced for `--seconds` (the end-to-end
  *     numbers), keeping its outputs for the checks;
  *  3. with `--trace 1`, each on a fresh session: run it again with
  *     spans and Spark listeners on, then once more untraced (the
  *     baseline for the tracing overhead), then one unit on `local[1]`
  *     as the single-thread baseline.
  *
  * Everything measured goes to `--out` as JSON; perfbench/run.py turns
  * it into metrics and runs the output checks.
  */
object Main {
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val mainWallMs = System.currentTimeMillis()
    val jvmStartMs =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    HeapWatch.install()
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = Workload.byName(opt("workload"))
    val data = opt("data")
    val work = opt("work")
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cores = opt("cores").toInt
    new File(work).mkdirs()

    val setups = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 1 to SetupReps) {
      val t0 = System.nanoTime()
      spark = Session.create(s"local[$cores]", data, work, cores)
      Session.warmUp(spark, workload.warmPath(data))
      var s = (System.nanoTime() - t0) / 1e9
      if (i == 1) s += (mainWallMs - jvmStartMs) / 1e3
      setups += s
      if (i < SetupReps) spark.stop()
    }

    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> workload.name, "cores" -> cores, "setup_s" -> setups.toSeq)
    val outputs = mutable.LinkedHashMap.empty[String, Any]

    val untraced = new Phase(new Tracer(spark.sparkContext, enabled = false))
    val u0 = System.nanoTime()
    workload.run(Ctx(spark, data, s"$work/untraced", outputs), untraced,
      seconds)
    out("untraced") = untraced.toJson((System.nanoTime() - u0) / 1e9) +
      ("rss_peak_mb" -> Session.residentPeakMb) +
      ("heap_peak_mb" -> HeapWatch.peakMb)
    out("outputs") = outputs

    if (trace) {
      // the untraced twin runs after the traced phase, in a warmer JVM,
      // so the measured tracing overhead errs high
      spark = Session.restart(spark, s"local[$cores]", data, work, cores,
        workload)
      val counters = new Counters
      counters.install(spark)
      val tracer = new Tracer(spark.sparkContext, enabled = true)
      val traced = new Phase(tracer)
      val origin = System.nanoTime()
      workload.run(Ctx(spark, data, s"$work/traced", mutable.Map.empty),
        traced, seconds)
      val wall = (System.nanoTime() - origin) / 1e9
      counters.uninstall(spark)
      out("traced") = traced.toJson(wall) ++ Map(
        "spans" -> tracer.toJson(origin),
        "counters" -> counters.toJson)
      spark = Session.restart(spark, s"local[$cores]", data, work, cores,
        workload)
      val twin = new Phase(new Tracer(spark.sparkContext, enabled = false))
      val w0 = System.nanoTime()
      workload.run(Ctx(spark, data, s"$work/twin", mutable.Map.empty),
        twin, seconds)
      out("untraced_warm") = twin.toJson((System.nanoTime() - w0) / 1e9)
      spark = Session.restart(spark, "local[1]", data, work, 1, workload)
      val single = new Phase(new Tracer(spark.sparkContext, enabled = false))
      val l0 = System.nanoTime()
      workload.run(Ctx(spark, data, s"$work/local1", mutable.Map.empty),
        single, 0.0)
      out("local1") = single.toJson((System.nanoTime() - l0) / 1e9)
    }
    spark.stop()
    Files.write(Paths.get(opt("out")), Json.render(out).getBytes(UTF_8))
  }
}

/** One measured phase: time per unit of batch work, latency per query,
  * and operations attempted / failed. Every timed engine call goes
  * through [[op]], which also opens its span. */
final class Phase(val tracer: Tracer) {
  val units = mutable.ArrayBuffer.empty[Double]
  val queries = mutable.ArrayBuffer.empty[(String, Double)]
  val errors = mutable.ArrayBuffer.empty[String]
  var attempted = 0
  var failed = 0

  def op[T](span: String)(body: => T): T = {
    attempted += 1
    tracer.span(span)(body)
  }

  /** A timed query: latency in ms is recorded under `label`. */
  def query[T](span: String, label: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = op(span)(body)
    queries += label -> (System.nanoTime() - t0) / 1e6
    r
  }

  def fail(what: String, t: Throwable): Unit = {
    failed += 1
    val msg = Option(t.getMessage).getOrElse(t.getClass.getName)
    errors += s"$what: ${msg.linesIterator.nextOption().getOrElse("")}"
    System.err.println(s"perfbench: $what failed")
    t.printStackTrace()
  }

  def toJson(wall: Double): Map[String, Any] = Map(
    "wall_s" -> wall,
    "units_s" -> units.toSeq,
    "queries" -> queries.toSeq.map { case (n, ms) => Seq(n, ms) },
    "attempted" -> attempted, "failed" -> failed, "errors" -> errors.toSeq)
}

object Session {
  /** The same session the engine's own runners build (graft.Bench):
    * extensions on, UTC, no UI, shuffle partitions from
    * graft.SessionTuning. Scratch space stays under the run's work dir. */
  def create(master: String, data: String, work: String,
      cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(master)
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions",
        graft.SessionTuning.shufflePartitions(data, cores).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def restart(old: SparkSession, master: String, data: String,
      work: String, cores: Int, workload: Workload): SparkSession = {
    old.stop()
    val s = create(master, data, work, cores)
    warmUp(s, workload.warmPath(data))
    s
  }

  /** JIT, codegen and file-metadata warm-up, as graft.Bench does it:
    * one in-memory aggregate, then one scan of the largest input. */
  def warmUp(spark: SparkSession, path: String): Unit = {
    spark.range(1000000L).selectExpr("sum(id)").collect()
    spark.read.parquet(path).count()
  }

  /** Peak resident set of this JVM (Linux VmHWM), in MB. */
  def residentPeakMb: Double =
    try {
      val line = scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:"))
      line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    } catch { case _: Exception => 0.0 }
}

/** Peak heap in use right after a collection, over every GC since JVM
  * start: the retained working set, independent of how far the
  * collector let the heap grow before collecting. */
object HeapWatch {
  import java.lang.management.ManagementFactory
  import javax.management.{Notification, NotificationEmitter,
    NotificationListener}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo
  import scala.jdk.CollectionConverters._

  @volatile private var peak = 0L

  def install(): Unit =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(
        new NotificationListener {
          def handleNotification(n: Notification, hb: AnyRef): Unit =
            if (n.getType ==
                GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
              val info = GarbageCollectionNotificationInfo.from(
                n.getUserData.asInstanceOf[CompositeData])
              val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
                .collect { case (pool, u) if isHeap(pool) => u.getUsed }.sum
              synchronized { peak = math.max(peak, used) }
            }
        }, null, null)
      case _ => ()
    }

  private lazy val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getName).toSet
  private def isHeap(pool: String) = heapPools.contains(pool)

  def peakMb: Double = peak / (1024.0 * 1024.0)
}

final case class Ctx(spark: SparkSession, data: String, work: String,
    outputs: mutable.Map[String, Any])

trait Workload {
  def name: String
  /** The input scanned once during set-up. */
  def warmPath(data: String): String
  /** Run for `seconds`, whole units only, at least one unit. */
  def run(ctx: Ctx, ph: Phase, seconds: Double): Unit
  protected def elapsedSince(t0: Long): Double =
    (System.nanoTime() - t0) / 1e9
}

object Workload {
  val all: Seq[Workload] = Seq(NewsElt, Curation)
  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(s"unknown workload $n"))
}

/** Minimal JSON rendering for the run record. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case n: Short => n.toString
    case n: java.lang.Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case a: Array[_] => render(a.toSeq)
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case p: Product => render(p.productIterator.toSeq)
    case other => quote(other.toString)
  }

  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.result()
  }

  def read(path: String): org.json4s.JValue =
    org.json4s.jackson.JsonMethods.parse(
      new String(Files.readAllBytes(Paths.get(path)), UTF_8))
}

/** Collected query results as JSON for the checks, without another Spark
  * job: doubles travel as their IEEE-754 bits, timestamps as epoch
  * microseconds, dates as epoch days, so nothing rounds on the way. */
object Results {
  import org.apache.spark.sql.Row
  import org.apache.spark.sql.types._

  def encode(schema: StructType, rows: Array[Row]): Map[String, Any] = Map(
    "schema" -> schema.fields.toSeq.map(f =>
      Seq(f.name, f.dataType.simpleString)),
    "rows" -> rows.toSeq.map(r =>
      schema.fields.indices.map(i => value(r, i, schema(i).dataType))))

  private def value(r: Row, i: Int, t: DataType): Any =
    if (r.isNullAt(i)) null
    else t match {
      case DoubleType => java.lang.Double.doubleToRawLongBits(r.getDouble(i))
      case FloatType =>
        java.lang.Double.doubleToRawLongBits(r.getFloat(i).toDouble)
      case TimestampType | TimestampNTZType => r.get(i) match {
        case ts: java.sql.Timestamp =>
          Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000
        case ldt: java.time.LocalDateTime =>
          val inst = ldt.toInstant(java.time.ZoneOffset.UTC)
          inst.getEpochSecond * 1000000L + inst.getNano / 1000
        case inst: java.time.Instant =>
          inst.getEpochSecond * 1000000L + inst.getNano / 1000
      }
      case DateType => r.get(i) match {
        case d: java.sql.Date => d.toLocalDate.toEpochDay
        case d: java.time.LocalDate => d.toEpochDay
      }
      case _: DecimalType => r.getDecimal(i).toPlainString
      case _ => r.get(i)
    }
}
