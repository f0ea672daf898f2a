package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Command line of one benchmark run. */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: String, cores: Int, traces: String)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m.getOrElse("trace", "0") == "1",
      m("work"), m.getOrElse("cores", "4").toInt, m.getOrElse("traces", m("work") + "/traces"))
  }
}

/** State shared by one run: session, tracer, op/check accounting and
  * the metrics it reports.
  */
final class Ctx(val spark: SparkSession, val args: Args) {
  val cores: Int = args.cores
  val work: String = args.work
  val tr = new Tracer(args.trace, spark.sparkContext, s"${args.workload}-${args.seed}")
  private var nAttempted = 0L
  private var nFailed = 0L
  val e2e: mutable.LinkedHashMap[String, (Double, String)] = mutable.LinkedHashMap.empty
  val layer: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  val notes: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

  def attempted: Long = nAttempted
  def failed: Long = nFailed

  /** One engine operation: counted as attempted, and as failed if it throws. */
  def op[T](what: String)(body: => T): T = {
    nAttempted += 1
    try body
    catch {
      case e: Throwable =>
        nFailed += 1
        System.err.println(s"perfbench: operation $what failed: $e")
        throw e
    }
  }

  /** A ground-truth check: one attempted operation, failed when false. */
  def check(name: String, ok: Boolean, detail: => String): Unit = {
    nAttempted += 1
    if (!ok) nFailed += 1
    println(f"check ${if (ok) "ok    " else "FAILED"} $name%-28s $detail")
  }

  def metric(name: String, value: Double, unit: String): Unit = e2e(name) = (value, unit)

  def dir(name: String): String = s"$work/$name"
}

/** Times repeated units of work. In a traced run groups of `traceGroup`
  * units run untraced, traced, traced, untraced, ... (ABBA, so warm-up
  * drift cancels), and the run measures its own tracing overhead.
  */
final class Loop(c: Ctx, traceGroup: Int = 1) {
  val untraced: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty
  val traced: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty

  def all: Seq[Double] = (untraced ++ traced).toSeq

  /** Run `unit(i)` until `seconds` have passed and at least `minReps`
    * units ran (in a traced run, at least two groups of each kind), and
    * stop only after a multiple of `multipleOf` units. Returns the
    * measured seconds.
    */
  def run(seconds: Double, minReps: Int, multipleOf: Int = 1)(unit: Int => Unit): Double = {
    val t0 = System.nanoTime()
    val reps = if (c.args.trace) math.max(minReps, 4 * traceGroup) else minReps
    var i = 0
    while (i < reps || i % multipleOf != 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      val traceThis = c.args.trace && Set(1, 2).contains((i / traceGroup) % 4)
      c.tr.active = traceThis
      val s = System.nanoTime()
      try c.tr.span(c.args.workload)(unit(i)) finally c.tr.active = false
      (if (traceThis) traced else untraced) += (System.nanoTime() - s) / 1e9
      i += 1
    }
    (System.nanoTime() - t0) / 1e9
  }
}

object Main {

  /** `body`'s result and its wall seconds. */
  def timed[T](body: => T): (T, Double) = {
    val t = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t) / 1e9)
  }

  /** Set-up is repeated `reps` times; the median of the repeatable part
    * is reported (plus the one-off parts the caller adds).
    */
  def medianSetup(reps: Int)(body: Int => Unit): Double =
    Stats.median((0 until reps).map(i => timed(body(i))._2))

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Peak memory the run needed, in MiB: the summed peak use of the heap
    * pools, plus the peak resident set (VmHWM) beyond the committed heap.
    * The heap is fixed and pre-touched, so VmHWM alone would read as the
    * heap size plus off-heap memory whatever the workload kept on the heap.
    */
  def peakMemMb(c: Ctx): Double = {
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
    val heapPeak = pools.map(_.getPeakUsage.getUsed).sum
    val committed = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted
    val hwm = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong * 1024).getOrElse(0L)
    def mb(b: Long) = b / 1048576.0
    c.notes += pools.map(p => f"${p.getName.replace(' ', '_')}=${mb(p.getPeakUsage.getUsed)}%.1f")
      .mkString("memory peak_mb: ", " ", f" vmhwm=${mb(hwm)}%.1f committed_heap=${mb(committed)}%.1f")
    mb(heapPeak + hwm - committed)
  }

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val spark = session(a)
    // JVM launch to a ready session: the first slice of setup_s
    val sessionS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val c = new Ctx(spark, a)
    println(s"perfbench workload=${a.workload} seed=${a.seed} seconds=${a.seconds} " +
      s"trace=${if (a.trace) 1 else 0} cores=${a.cores} session_start_s=$sessionS")
    val code =
      try {
        a.workload match {
          case "curate" => Curate.run(c, sessionS)
          case "ingest" => Ingest.run(c, sessionS)
          case "syllabus" => Syllabus.run(c, sessionS)
          case w => throw new IllegalArgumentException(s"unknown workload $w")
        }
        c.metric("peak_mem_mb", peakMemMb(c), "MB")
        if (a.trace) Report.traced(c) else Report.untraced(c)
        if (c.failed == 0) 0 else 1
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          4
      } finally {
        c.tr.close()
        spark.stop()
      }
    System.out.flush()
    sys.exit(code)
  }
}
