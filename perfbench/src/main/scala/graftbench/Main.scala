package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.chaining._
import scala.util.control.NonFatal
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import graft.Sessions

/** The benchmark's JVM: set up (session + untimed cold pass), then run
  * timed passes of one workload for the given seconds, closed loop with
  * one client, and write the raw record for run.py. `setup_s` runs from
  * JVM launch to the end of the cold pass.
  *
  * Usage: graftbench.Main --workload W --data DIR --root DIR --expect FILE
  *          --out FILE --seconds S --trace 0|1 --cores N
  *          [--spill-after N]
  */
object Main {

  /** Timed passes per run, at least, however long they take. */
  val MinTimed = 2

  private val cpuBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuNs(): Long = cpuBean.getProcessCpuTime

  /** Collector and JIT compiler time so far (ms) and whole-stage-codegen
    * compilations: where a pass's process CPU went besides the workload.
    */
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  def codegenN(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val root = a("root")
    val traced = a.getOrElse("trace", "0") == "1"
    val seconds = a("seconds").toDouble
    val workload = Workloads(a("workload"))
    val expected = Files.readAllLines(Paths.get(a("expect")), UTF_8).toArray
      .map(_.toString.split("\t", 2)).collect { case Array(k, v) => k -> v }.toMap
    Isolation.redirectScratch(s"$root/scratch")
    val bench = new Bench(workload, a("data"), root, a.getOrElse("cores", "4"),
      a.get("spill-after"), expected, if (traced) Some(new Trace) else None)

    val launchUs = ManagementFactory.getRuntimeMXBean.getStartTime * 1000L
    val s0 = Clock.us()
    bench.start()
    val sessionS = (Clock.us() - s0) / 1e6
    val coldEnd = bench.pass("cold", traced = false)
    val setup = Json.obj("setup_s" -> (coldEnd - launchUs) / 1e6, "session_s" -> sessionS)
    val t0 = Clock.us()
    var i = 0
    while (i < MinTimed || (Clock.us() - t0) / 1e6 < seconds) {
      bench.pass("timed", traced = traced && i % 2 == 0)
      i += 1
    }
    bench.stop()
    val out = "{\"workload\": " + Json.str(workload.name) +
      ",\n\"setup\": " + setup +
      ",\n\"passes\": " + bench.passes.mkString("[", ",\n", "]") +
      ",\n\"trace\": " + bench.trace.map(_.toJson).getOrElse("null") + "}\n"
    Files.write(Paths.get(a("out")), out.getBytes(UTF_8))
  }
}

final class Bench(workload: Workload, data: String, root: String, cores: String,
                  spillAfter: Option[String], expected: Map[String, String],
                  val trace: Option[Trace]) {
  private var spark: SparkSession = _
  private var passId = 0
  val passes = mutable.ArrayBuffer.empty[String]
  private val scratch = new File(s"$root/scratch")
  private val zones = new File(s"$root/zones")

  def start(): Unit = {
    spark = Sessions.withDefaults(SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .config("spark.local.dir", s"$root/spark-local")
      .config("spark.ui.enabled", "false")
      // Sorters spill every N records: memory pressure that does not
      // depend on which tasks happen to run at the same time.
      .pipe(b => spillAfter.fold(b)(
        b.config("spark.shuffle.spill.numElementsForceSpillThreshold", _))))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  def stop(): Unit = spark.stop()

  private def span[T](name: String, layer: String, parent: Int, traced: Boolean)(
      body: Int => T): T =
    trace.filter(_ => traced).map(_.span(name, layer, parent, passId)(body)).getOrElse(body(0))

  /** One pass of every step; returns when its timed window ended (µs). */
  def pass(kind: String, traced: Boolean): Long = {
    passId += 1
    val ctx = new Ctx(spark, data, zones.getAbsolutePath)
    val stepS = mutable.LinkedHashMap.empty[String, Double]
    val listeners = trace.filter(_ => traced).map { t =>
      val l = (new EngineListener(t), new StreamListener(t))
      spark.sparkContext.addSparkListener(l._1)
      spark.streams.addListener(l._2)
      (t, l)
    }
    val (c0, g0, j0, k0) = (Main.cpuNs(), Main.gcMs(), Main.jitMs(), Main.codegenN())
    val t0 = Clock.us()
    val results = span("pass", "bench", 0, traced) { pid =>
      workload.steps.map { st =>
        span(st.name, st.layer, pid, traced) { _ =>
          val s0 = Clock.us()
          val r = try Right(st.run(ctx)) catch { case NonFatal(e) => Left(e) }
          stepS(st.name) = (Clock.us() - s0) / 1e6
          r
        }
      }
    }
    val t1 = Clock.us()
    val cpuS = (Main.cpuNs() - c0) / 1e9
    val (gcS, jitS) = ((Main.gcMs() - g0) / 1e3, (Main.jitMs() - j0) / 1e3)
    listeners.foreach { case (t, (el, sl)) =>
      drain(t)
      spark.sparkContext.removeSparkListener(el)
      spark.streams.removeListener(sl)
    }
    val steps = workload.steps.zip(results).map { case (st, r) =>
      val (fp, err) = r match {
        case Left(e) => ("", e.toString)
        case Right(check) =>
          try (check(), "") catch { case NonFatal(e) => ("", "check: " + e.toString) }
      }
      val ok = err.isEmpty && (st.gate.isEmpty || expected.get(st.gate).contains(fp))
      Json.obj("name" -> st.name, "gate" -> st.gate, "ok" -> ok, "fp" -> fp,
        "error" -> err.take(500))
    }
    System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    val leftMb = Isolation.bytesUnder(scratch) / 1048576.0
    scrub()
    passes += Json.obj("id" -> passId, "kind" -> kind, "traced" -> traced,
      "start_us" -> t0, "end_us" -> t1, "wall_s" -> (t1 - t0) / 1e6, "cpu_s" -> cpuS,
      "gc_s" -> gcS, "jit_s" -> jitS,
      "codegen_n" -> (Main.codegenN() - k0),
      "heap_mb" -> heapMb, "scratch_left_mb" -> leftMb,
      "steps" -> Json.raw(steps.mkString("[", ", ", "]")),
      "step_s" -> stepS, "counters" -> ctx.counters)
    t1
  }

  /** Wait until the listener has seen every job it saw start and the bus
    * has been quiet for a moment, so removing it drops no events.
    */
  private def drain(t: Trace): Unit = {
    val deadline = System.currentTimeMillis() + 10000L
    while (System.currentTimeMillis() < deadline &&
      (t.openJobs.get > 0 || System.currentTimeMillis() - t.lastEventMs.get < 300L))
      Thread.sleep(20L)
  }

  /** Release what the pass left behind, outside the timed window: cached
    * and persisted data, checkpoint pins, scratch dirs and zones.
    */
  private def scrub(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    Isolation.deleteUnder(scratch)
    Isolation.deleteUnder(zones)
    System.gc()
  }
}
