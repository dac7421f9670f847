package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** One operation of a workload: when it ran and what it produced
  * (`digest`, checked by `verify.py` against the expected output that
  * `check` names). */
final case class Op(name: String, check: String, start: Double, end: Double,
    error: Option[String], digest: String)

/** What a workload's measured phase hands back. */
final case class Phase(ops: Seq[Op], wall: Double, outputs: Map[String, Any],
    layers: Map[String, Double])

/** Command-line options of the worker (see `run.py`). */
final case class Opts(workload: String, inputs: String, warm: String,
    work: String, out: String, seconds: Int, seed: Long, trace: Boolean,
    cores: Int, inject: Boolean, bench: String)

object Clock {
  private val ms0 = System.currentTimeMillis()
  private val ns0 = System.nanoTime()
  /** Seconds since the epoch at nanoTime resolution. */
  def now: Double = ms0 / 1e3 + (System.nanoTime() - ns0) / 1e9
}

/** A workload: an optional warm-up of its own, then one measured phase. */
trait Workload {
  def warmup(spark: SparkSession): Unit = ()
  def run(spark: SparkSession, tracer: Tracer, counters: Option[SparkCounters]): Phase
}

object Main {
  /** The only place the benchmark configures Spark: cores and shuffle
    * partitions from the host, every conf fixed before the first timed
    * operation, the engine's extensions installed at build time. */
  def session(o: Opts): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.default.parallelism", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftExtensions.install(spark)
    spark
  }

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("inputs"), m("warm"), m("work"), m("out"),
      m("seconds").toInt, m("seed").toLong, m("trace") == "1", m("cores").toInt,
      m.get("inject").contains("1"), m("bench"))
  }

  def workload(o: Opts): Workload = o.workload match {
    case "retail_batch" => new Retail(o)
    case "elt_incremental" => new Elt(o)
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  /** The largest heap occupancy right after a collection, over the
    * whole process: the memory the program keeps live, which the heap
    * size the collector settles on does not move. */
  object HeapAfterGc {
    @volatile private var peak = 0L
    def mb: Double = peak / 1048576.0
    def start(): Unit = {
      import com.sun.management.GarbageCollectionNotificationInfo
      import scala.jdk.CollectionConverters._
      val heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
        case e: javax.management.NotificationEmitter =>
          e.addNotificationListener((n: javax.management.Notification, _: Any) =>
            if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
              val used = GarbageCollectionNotificationInfo
                .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
                .getGcInfo.getMemoryUsageAfterGc.asScala
                .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
              synchronized { peak = math.max(peak, used) }
            }, null, null)
        case _ =>
      }
    }
  }

  def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  /** Sets up, then runs the workload's measured phase once, traced or
    * not. A traced run is a fresh JVM of its own, so its per-layer
    * figures describe the same phase an untraced run times. */
  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val procStart = ProcessHandle.current().info().startInstant().get().toEpochMilli / 1e3
    HeapAfterGc.start()
    val w = workload(o)
    val spark = session(o)
    w.warmup(spark)
    val result = mutable.LinkedHashMap[String, Any]("setup_s" -> (Clock.now - procStart))
    val tracer = new Tracer(o.trace)
    val counters = if (o.trace) Some(new SparkCounters) else None
    val jvm = new JvmCounters
    counters.foreach(_.register(spark))
    jvm.start()
    val phase = w.run(spark, tracer, counters)
    result ++= phaseJson(phase)
    counters.foreach { c =>
      org.apache.spark.sql.GraftShims.drainListenerBus(spark)
      result("layers") = Layers.report(tracer, c, jvm, phase)
      Files.write(Paths.get(o.out + ".spans.jsonl"), tracer.all.map(s =>
        Json.write(Map("id" -> s.id, "layer" -> s.layer, "name" -> s.name,
          "start_ns" -> s.start, "end_ns" -> s.end, "parent" -> s.parent,
          "op" -> s.op))).mkString("", "\n", "\n").getBytes("UTF-8"))
    }
    result("peak_rss_mb") = peakRssMb
    result("heap_after_gc_peak_mb") = HeapAfterGc.mb
    spark.stop()
    Files.write(Paths.get(o.out), Json.write(result).getBytes("UTF-8"))
  }

  def phaseJson(p: Phase): Map[String, Any] = Map(
    "wall_s" -> p.wall, "outputs" -> p.outputs,
    "ops" -> p.ops.map(op => Map("name" -> op.name, "check" -> op.check,
      "start" -> op.start, "end" -> op.end,
      "error" -> op.error.orNull, "digest" -> op.digest)))

  /** Runs `f` as one operation: never lets a throw escape, never turns
    * it into a timing (the caller drops errored ops from latency). */
  def timed(name: String, check: String)(f: => String): Op = {
    val t0 = Clock.now
    try {
      val d = f
      Op(name, check, t0, Clock.now, None, d)
    } catch {
      case e: Throwable if scala.util.control.NonFatal(e) =>
        Op(name, check, t0, Clock.now, Some(e.toString.take(500)), "")
    }
  }

  def deleteTree(p: String): Unit = {
    val f = new java.io.File(p)
    if (f.exists()) graft.core.AtomicSwap.deleteRecursively(f)
  }
}

/** The worker's report as JSON. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def write(v: Any): String = mapper.writeValueAsString(v)
}
