package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong
import javax.management.NotificationEmitter
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession

/** One benchmark run inside one JVM: builds the session, then runs
  * closed-loop operations (one driver thread, each issued after the
  * previous one finished) until `--seconds` of operation time have passed.
  * There is no warm-up: the first operation runs cold. Output checks,
  * cleanup and the box probes run outside the timed operations. Writes
  * everything run.py needs to `--out` as one JSON object.
  *
  * With `--trace 1` every operation is split into spans (see [[Spans]]).
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cpus = opt("cpus").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", opt("work") + "/spark-local")
      .config("spark.sql.warehouse.dir", opt("work") + "/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val spans = if (opt("trace") == "1") Some(new Spans(spark.sparkContext)) else None
    val workload: Workload = opt("workload") match {
      case "cpc_publish" =>
        new CpcWorkload(spark, opt("inputs"), opt("work"), spans)
      case "register_dedup_graph" =>
        new RegisterWorkload(spark, opt("inputs"), opt("seed").toLong, spans)
      case w => sys.error(s"unknown workload $w")
    }

    val ops = Seq.newBuilder[String]
    def attempt(k: Int): Double = {
      Heap.on = true
      val t0 = System.nanoTime()
      val outcome = try Right(workload.op(k)) catch { case e: Throwable => Left(e) }
      val secs = (System.nanoTime() - t0) / 1e9
      Heap.sample()
      val check = outcome match {
        case Right(r) =>
          try s""""ok":true,"check":${workload.check(k, r)}"""
          catch { case e: Throwable => s""""ok":false,"error":${Json.str(e.toString)}""" }
        case Left(e) => s""""ok":false,"error":${Json.str(e.toString)}"""
      }
      workload.cleanup(k)
      ops += s"""{"k":$k,"secs":$secs,$check}"""
      secs
    }

    val firstTimedMs = System.currentTimeMillis()
    var timed = 0.0
    var k = 0
    while (timed < opt("seconds").toDouble) { k += 1; timed += attempt(k) }
    val (calibSt, calibMt) = Box.probes(cpus)

    val spanJson = spans.fold("[]")(_.finish().map { s =>
      f"""{"name":${Json.str(s.name)},"wall_s":${s.wallS},"driver_only_s":${s.driverOnlyS},""" +
        f""""executor_run_s":${s.executorRunS},"jobs":${s.jobs},"jobs_not_ok":${s.jobsNotOk},"tasks":${s.tasks},""" +
        f""""shuffle_bytes":${s.shuffleBytes},"spill_bytes":${s.spillBytes},"write_s":${s.writeS},""" +
        f""""job_log":${s.jobLog.map(Json.str).mkString("[", ",", "]")}}"""
    }.mkString("[", ",", "]"))
    val json =
      s"""{"first_timed_ms":$firstTimedMs,"heap_peak_mb":${Heap.peak.get / 1048576.0},""" +
        s""""box":{"calib_st_s":$calibSt,"calib_mt_s":$calibMt},""" +
        s""""ops":${ops.result().mkString("[", ",", "]")},"spans":$spanJson}"""
    Files.write(Paths.get(opt("out")), json.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}

/** A workload's operation, its output check and its cleanup. */
trait Workload {
  type Result
  def op(k: Int): Result
  /** JSON the run.py checker compares against the expected output. */
  def check(k: Int, r: Result): String
  def cleanup(k: Int): Unit
}

/** Largest used heap read right after a GC while `on`, which is only
  * during a timed operation. [[sample]] ends each operation with an explicit
  * GC, reads the heap it leaves, and turns recording off before the output
  * check and the cleanup run. */
object Heap {
  @volatile var on = false
  val peak = new AtomicLong(0L)

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener((n, _) =>
      if (on && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
        peak.accumulateAndGet(used, math.max(_, _))
      }, null, null)
    case _ =>
  }

  def sample(): Unit = {
    System.gc()
    peak.accumulateAndGet(ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed, math.max(_, _))
    on = false
  }
}

/** Calibration probes: a fixed xorshift fold on one thread, then on one
  * thread per core. Their drift between runs is the box's, not the
  * program's. */
object Box {
  private def fold(seed: Long): Long = {
    var x = seed; var i = 0
    while (i < 100000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    x
  }

  def probes(cpus: Int): (Double, Double) = {
    val sink = new java.util.concurrent.atomic.LongAdder
    def timed(threads: Int): Double = {
      val t0 = System.nanoTime()
      val ts = (1 to threads).map(i => new Thread(() => sink.add(fold(0x9e3779b97f4a7c15L + i))))
      ts.foreach(_.start()); ts.foreach(_.join())
      (System.nanoTime() - t0) / 1e9
    }
    timed(1)
    (math.min(timed(1), timed(1)), math.min(timed(cpus), timed(cpus)))
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
